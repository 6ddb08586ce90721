package graft.llm

import graft.Settle
import graft.Tables._
import graft.operators._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** SURVEY §2 L1–L12: LLM-training-data pipeline operators over the
  * `documents` and `embeddings` tables. */
object LlmQueries {

  /** documents ∪ a perturbed copy — a corpus with known exact+near
    * duplicates (ids offset by 10^6; copies get a 2-token suffix for
    * the near-dup variants). */
  private def withCopies(docs: DataFrame, perturb: Boolean): DataFrame = {
    val copy = docs.select((col("doc_id") + 1000000L).as("doc_id"),
      (if (perturb) concat(col("text"), lit(" zz qq")) else col("text")).as("text"),
      col("lang"), col("source"), col("n_chars"))
    docs.select("doc_id", "text", "lang", "source", "n_chars").union(copy)
  }

  // ---- L1: exact dedup -----------------------------------------------------
  def d1ExactDedup(s: SparkSession, dir: String): DataFrame =
    Dedup.exactGroups(withCopies(t(s, dir, "documents"), perturb = false),
        "doc_id", "text")
      .select("digest", "keep_id", "n_copies")
      .orderBy("keep_id")

  // ---- L2: MinHash LSH near-dup -------------------------------------------
  /** 32 bands × 2 rows (not 16 × 4): at the 0.5 threshold the miss
    * probability per true pair is (1−j²)³² ≤ 1e-4 (vs ~8% at j=0.6
    * with 4-row bands — a real miss surfaced at sf0.1), so the
    * brute-force oracle's 100%-recall claim holds with margin across
    * every SF's pair distribution; the extra low-sim candidates the
    * shorter bands admit die cheaply in the sorted-intersect verify. */
  def d2MinhashLsh(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashPairs(withCopies(t(s, dir, "documents"), perturb = true),
        "doc_id", "text", w = 3, h = 64, bands = 32, threshold = 0.5)
      .withColumn("jaccard", round(col("jaccard"), 6))
      .orderBy("id_a", "id_b")

  // ---- L3: SimHash near-dup ------------------------------------------------
  def d3Simhash(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashPairs(withCopies(t(s, dir, "documents"), perturb = true),
        "doc_id", "text", maxDist = 3)
      .orderBy("id_a", "id_b")

  // ---- L4: n-gram Jaccard on blocked pairs --------------------------------
  def d4NgramJaccard(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        blockCols = Seq(col("source"), (col("n_chars") / 100).cast("int")),
        n = 3, threshold = 0.6)
      .withColumn("jaccard", round(col("jaccard"), 6))
      .orderBy("id_a", "id_b")
  }

  // ---- L67: KMV sketch calibration (estimate vs exact Jaccard) -----------
  /** Per-pair KMV-estimate-vs-exact-Jaccard calibration over d4's
    * candidate blocks — the measured answer to "what does replacing the
    * full gram arrays with constant-size bottom-k sketches cost?"
    * (e7's index-quality role, for the dedup family). */
  def d15KmvCalibration(s: SparkSession, dir: String): DataFrame =
    Dedup.kmvCalibrationPairs(t(s, dir, "documents"), "doc_id", "text",
        blockCols = Seq(col("source"), (col("n_chars") / 100).cast("int")),
        n = 3, k = 64, threshold = 0.2)
      .orderBy("id_a", "id_b")

  // ---- L18: duplicate-cluster resolution (connected components) ----------
  /** The d2 pair graph collapsed to clusters: transitive closure via
    * hash-min + pointer-jump CC, cluster id = min doc_id, keep-one
    * policy surfaced as a boolean. */
  def d6DupClusters(s: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.minhashPairs(withCopies(t(s, dir, "documents"), perturb = true),
      "doc_id", "text", w = 3, h = 64, bands = 32, threshold = 0.5)
    Dedup.dupClusters(pairs, "id_a", "id_b")
      .select(col("id").as("doc_id"), col("cluster_id"),
        col("cluster_size"), col("keep"))
      .orderBy("doc_id")
  }

  // ---- L105: quality survivorship over dup clusters -------------------------
  /** Canonical-document selection — the policy layer over d6: when a
    * near-dup cluster is found, keep the HIGHEST-QUALITY member
    * (x2's score, ties to min id), not the arbitrary min-id d6
    * defaults to. The real pipeline verb: a crawl's near-copies
    * differ in boilerplate/truncation, and dropping by id throws away
    * the clean variant whenever the dirty one came first. Composes
    * three proven parts — d2's banded pairs, d6's hash-min CC, x2's
    * quality kernel — into one pass: the argmax is q57's
    * max-of-struct device on the cluster-cardinality table, so
    * survivorship adds one tiny aggregate to d6's cost. */
  def d19QualitySurvivor(s: SparkSession, dir: String): DataFrame = Settle.scope("d19_quality_survivor") { st =>
    val corpus = withCopies(t(s, dir, "documents"), perturb = true)
    val pairs = Dedup.minhashPairs(corpus, "doc_id", "text",
      w = 3, h = 64, bands = 32, threshold = 0.5)
    // quality scoring is INDEPENDENT of the CC loop — settle it as a
    // concurrent driver job (guide §2.6) so the kernel's tasks
    // backfill the latency-bound CC rounds instead of running after
    // them; deterministic, so concurrency cannot change a row (r14)
    val Seq(qual, clusters) = st.sweep(Seq(true, false)) { quality =>
      if (quality) st.settle(corpus.select(col("doc_id").as("id"),
        TextAnalysis.qualityColumns(col("text")).last.as("q")), "quality")
      else Dedup.dupClusters(pairs, "id_a", "id_b")
    }
    // settled eagerly (r14): j is consumed TWICE (the argmax and the
    // verdict join) — unsettled, the cluster join AND the quality
    // kernel over the perturbed corpus executed once per consumer
    // (guide §2.5, the x32 posture). Corpus-cardinality but narrow
    // (id, cluster, size, q).
    val j = st.settle(clusters.join(qual, Seq("id")), "clusters")
    // argmax (q desc, id asc): max of (q, −id) — the q57 device
    val surv = j.groupBy("cluster_id")
      .agg(max(struct(col("q"), (-col("id")).as("ni"))).as("m"))
      .select(col("cluster_id"), (-col("m.ni")).as("surv_id"))
    j.join(surv, Seq("cluster_id"))
      .select(col("id").as("doc_id"), col("cluster_id"),
        col("cluster_size"), (round(col("q"), 6) + 0.0).as("quality"),
        (col("id") === col("surv_id")).as("is_survivor"))
      .orderBy("doc_id")
  }

  /** embeddings ∪ perturbed copies (ids offset by 10^6): planted
    * near-duplicates at cos ≈ 0.987 against a random background whose
    * max pair cosine is ~0.5 — the dedup-grade regime the LSH-banded
    * scale path is built for. The perturbation (x·0.98 + 0.02) is plain
    * arithmetic so the oracle reproduces the copies exactly. */
  private def withEmbCopies(emb: DataFrame): DataFrame = {
    val base = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    base.union(base.select((col("vec_id") + 1000000L).as("vec_id"),
      transform(col("embedding"), x => x * 0.98 + 0.02).as("embedding")))
  }

  // ---- L5: embedding-cosine near-dup (banded sign-LSH scale path) ---------
  def d5EmbedDup(s: SparkSession, dir: String): DataFrame =
    Dedup.embeddingDupPairs(withEmbCopies(t(s, dir, "embeddings")),
        "vec_id", "embedding", threshold = 0.9)
      .withColumn("cos", round(col("cos"), 6))
      .orderBy("id_a", "id_b")

  // ---- L6: brute-force ANN top-k ------------------------------------------
  def s1AnnBrute(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Similarity.bruteTopK(emb, emb.filter(col("vec_id") < 5), k = 10)
      .withColumn("cos", round(col("cos"), 6))
      .select("qid", "id", "cos", "rk")
      .orderBy("qid", "rk")
  }

  // ---- L7: LSH-bucketed ANN -----------------------------------------------
  def s2AnnLsh(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Similarity.lshTopK(emb, emb.filter(col("vec_id") < 5), k = 10,
        bits = 8, dim = 64)
      .withColumn("cos", round(col("cos"), 6))
      .select("qid", "id", "cos", "rk")
      .orderBy("qid", "rk")
  }

  // ---- L117: graph-based ANN (beam search over the e6 kNN index) ----------
  /** The NSW/HNSW-family search pattern as bounded relational hops
    * ([[Similarity.graphTopK]]): entry at the 16 md5-sampled nodes,
    * 2 hops of beam-4 expansion over the proven directed top-5 graph,
    * exact scoring of every visited candidate, final top-10 excluding
    * self — same output contract as s1/s2/s3/s5. */
  def s7GraphAnn(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Similarity.graphTopK(emb, emb.filter(col("vec_id") < 5), k = 10)
      .withColumn("cos", round(col("cos"), 6))
      .select("qid", "id", "cos", "rk")
      .orderBy("qid", "rk")
  }

  // ---- L60: ANN recall evaluation ------------------------------------------
  /** The index-quality harness every ANN deployment needs: per-query
    * recall@10 of the LSH index (s2) against brute-force ground truth
    * (s1) — overlap counted by (qid, id) semi-join on the two top-k
    * sets (both O(queries × k), tiny). Composable with any index (swap
    * lshTopK for ivfTopK/pqTopK); the oracle composes the two proven
    * index replays as CTEs, so a hash match certifies the recall
    * arithmetic end to end. */
  def e7AnnRecall(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val qs = emb.filter(col("vec_id") < 5)
    val brute = Similarity.bruteTopK(emb, qs, k = 10).select("qid", "id")
    val lsh = Similarity.lshTopK(emb, qs, k = 10, bits = 8, dim = 64)
      .select("qid", "id")
    val overlap = brute.join(lsh, Seq("qid", "id"), "left_semi")
      .groupBy("qid").agg(count(lit(1)).as("n_overlap"))
    val nb = brute.groupBy("qid").agg(count(lit(1)).as("n_brute"))
    val nl = lsh.groupBy("qid").agg(count(lit(1)).as("n_lsh"))
    nb.join(nl, Seq("qid"))
      .join(overlap, Seq("qid"), "left")
      .select(col("qid"), col("n_brute"), col("n_lsh"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        round(coalesce(col("n_overlap"), lit(0L)).cast("double")
          / col("n_brute"), 6).as("recall"))
      .orderBy("qid")
  }

  // ---- L69: IVF probe-sweep recall curve -----------------------------------
  /** The index-TUNING harness e7 (single-operating-point recall)
    * doesn't give: recall@10 of the s3 IVF index at nProbe ∈
    * {1, 2, 4, 8} against the s1 brute ground truth — the
    * recall-vs-cost curve an operator reads before fixing nProbe at
    * 100 TB (probing twice the cells costs ~twice the candidate
    * scoring). All four sweeps share the same deterministic index
    * (md5-sampled centroids), so the curve isolates the probe count;
    * counts aggregate corpus-wide (overlap / brute = one IEEE
    * division). Monotone by construction: a larger probe set is a
    * superset, so candidates only grow. */
  def e10IvfRecallSweep(s: SparkSession, dir: String): DataFrame = Settle.scope("e10_ivf_recall_sweep") { st =>
    val emb = t(s, dir, "embeddings")
    val qs = emb.filter(col("vec_id") < 5)
    // ground truth settles ONCE (|queries|·k rows): it is consumed
    // twice per arm (semi-join + count), and unsettled the full brute
    // subplan replicated 8x into the final DAG
    val brute = st.settle(Similarity.bruteTopK(emb, qs, k = 10).select("qid", "id"), "truth")
    // the four probe arms are INDEPENDENT given the shared ground
    // truth — run them as concurrent jobs (guide §2.6: actions are
    // only sequential because the driver calls them sequentially);
    // each arm settles its |queries|·k candidate set eagerly, so the
    // assembly below runs on tiny materialized frames. Results are
    // arm-deterministic, so concurrency cannot change a row.
    // ONE index for all four arms (r14 — the e21 posture brought to
    // IVF): centroids collect once and the cell-assigned corpus
    // settles once; per arm only the probe selection + scoring runs.
    // Previously every arm re-collected centroids and re-assigned the
    // whole corpus.
    val (cents, cellsRaw) = Similarity.ivfSampledIndex(emb, nCells = 16)
    val cells = st.settle(cellsRaw, "cells")
    val ivfs = st.sweep(Seq(1, 2, 4, 8)) { np =>
      st.settle(Similarity.ivfTopKIndexed(cents, cells, qs, k = 10, nProbe = np)
        .select("qid", "id"), s"nprobe-$np")
    }
    Seq(1, 2, 4, 8).zip(ivfs).map { case (np, ivf) =>
      val ov = brute.join(ivf, Seq("qid", "id"), "left_semi")
        .agg(count(lit(1)).as("n_overlap"))
      brute.agg(count(lit(1)).as("n_brute"))
        .crossJoin(ivf.agg(count(lit(1)).as("n_ivf")))
        .crossJoin(ov)
        .select(lit(np).as("nprobe"), col("n_brute"), col("n_ivf"),
          col("n_overlap"),
          (col("n_overlap").cast("double") / col("n_brute").cast("double"))
            .as("recall"))
    }.reduce(_.unionByName(_)).orderBy("nprobe")
  }

  // ---- L119: graph-ANN hop-sweep recall curve --------------------------------
  /** The graph-ANN twin of e10's probe sweep: recall@10 of s7's beam
    * search at hops ∈ {0, 1, 2, 3} against the s1 brute ground truth —
    * the horizon-vs-cost curve an operator reads before fixing `hops`
    * (each hop adds beam·graphK candidate scorings per query). All
    * four sweeps share ONE index build (the production posture —
    * [[Similarity.graphTopK]]'s `index` hook), so the curve isolates
    * the search horizon; hops=0 is the entry-points-only floor.
    * Monotone by construction: candidate sets only grow with hops. */
  def e21GraphRecallSweep(s: SparkSession, dir: String): DataFrame = Settle.scope("e21_graph_recall_sweep") { st =>
    val emb = t(s, dir, "embeddings")
    val qs = emb.filter(col("vec_id") < 5)
    // ground truth settled once (the e10 posture): 8 consumers across
    // the four arms
    val brute = st.settle(Similarity.bruteTopK(emb, qs, k = 10).select("qid", "id"), "truth")
    val index = Similarity.directedTopK(emb, "vec_id", "embedding", 5, 16)
      .select(col("qid").as("node"), col("id").as("nbr"))
    // normalized corpus settled ONCE and shared (r14): each arm's own
    // cache shared one CacheManager entry (identical plan), so the
    // first arm to finish released it from under the others
    val normed = st.settle(Similarity.normalizedCorpus(emb), "normed")
    // four independent searches over ONE settled index: concurrent
    // driver jobs (guide §2.6) — graphTopK settles its own result
    // (localCheckpoint inside), so each arm completes in its future
    val arms = st.sweep(Seq(0, 1, 2, 3)) { h =>
      Similarity.graphTopK(emb, qs, k = 10, hops = h, index = Some(index),
          normed = Some(normed))
        .select("qid", "id")
    }
    Seq(0, 1, 2, 3).zip(arms).map { case (h, g) =>
      val ov = brute.join(g, Seq("qid", "id"), "left_semi")
        .agg(count(lit(1)).as("n_overlap"))
      brute.agg(count(lit(1)).as("n_brute"))
        .crossJoin(g.agg(count(lit(1)).as("n_graph")))
        .crossJoin(ov)
        .select(lit(h).as("hops"), col("n_brute"), col("n_graph"),
          col("n_overlap"),
          (col("n_overlap").cast("double") / col("n_brute").cast("double"))
            .as("recall"))
    }.reduce(_.unionByName(_)).orderBy("hops")
  }

  // ---- L81: pairwise source-drift matrix -------------------------------------
  /** The full SOURCE-DRIFT MATRIX — directed KL divergence between
    * every pair of source slices under shared-vocab Laplace smoothing
    * (x24 answers "has slice A drifted from the rest"; this answers
    * "WHICH sources differ most from which" — the mixture-design read
    * behind x10's temperature weights: near-duplicate sources waste
    * quota, outlier sources need their own). One token pass builds the
    * per-source count table; KL terms use x24's proven device:
    * round-9 + 0.0, summed as exact DECIMAL (order-free), one cast
    * out.
    *
    * SPARSE formulation (the 100 TB shape — the earlier dense
    * vocab×sources crossJoin materialized V·S rows just so Laplace
    * could see the zero cells; at web-scale vocab that grid IS the
    * bottleneck): only OBSERVED (source, tok) pairs ever materialize.
    * Because every per-token term is individually rounded to
    * DECIMAL(20,9) before the exact sum, the directed KL splits by
    * presence class with NO precision seam — bit-identical to the
    * dense sum (the oracle still replays the dense semantics,
    * certifying the rewrite):
    *   A∩B  terms from one sparse self-join on tok;
    *   A\B  = (Σ over ALL of A's tokens against B's absent-prob
    *          q_B = 1/(n_B+V)) − (the A∩B portion of the same sum);
    *   B\A  mirrored;
    *   absent-in-both: every such token contributes the SAME rounded
    *          constant r9(q_A·ln(q_A/q_B)), so the class sum is
    *          exactly (V − |T_A| − |T_B| + |A∩B|) × constant.
    * Work: |observed|·(S−1) rows in the per-source sweeps plus the
    * ∩ join — never V·S; the pair assembly runs on S²-row tables. */
  def x32SourceDriftMatrix(s: SparkSession, dir: String): DataFrame = Settle.scope("x32_source_drift_matrix") { st =>
    import org.apache.spark.sql.types.DecimalType
    val tok = t(s, dir, "documents")
      .select(col("source"), explode(TextAnalysis.tokens(col("text")))
        .as("tok"))
      .filter(col("tok") =!= "")
    val counts = st.cache(tok.groupBy("source", "tok").agg(count(lit(1)).as("c")))
    // 1-row / S-row model frames with 2+ consumers each (vc: p and the
    // pair grid; prof: p, sweep, and the grid twice) — settle them
    // eagerly so each broadcast build reads a checkpoint instead of
    // re-running its distinct/groupBy over the cached counts
    val vc = st.settle(counts.select("tok").distinct().agg(count(lit(1)).as("v")), "vocab")
    // S-row per-source profile: token total n, distinct-token count nt
    val prof = st.settle(counts.groupBy("source")
      .agg(sum("c").as("n"), count(lit(1)).as("nt")), "profile")
    // sparse Laplace probabilities — p identical bit-for-bit to the
    // dense cell for observed tokens; n/v ride along for the absent
    // constants q = 1.0/(n+v)
    // CACHED: three consumers (both sides of the ∩ self-join and the
    // one-sided sweep) — uncached, each re-ran the join + per-row
    // divisions from the counts cache
    val p = st.cache(counts.join(broadcast(prof.select("source", "n")), Seq("source"))
      .crossJoin(broadcast(vc))
      .select(col("source"), col("tok"),
        ((col("c") + 1).cast("double") /
          (col("n") + col("v")).cast("double")).as("p"),
        col("n"), col("v")))
    def term(a: Column, b: Column): Column =
      (round(a * log(a / b), 9) + 0.0).cast("decimal(20,9)")
    def absentP(n: Column, v: Column): Column =
      lit(1.0) / (n + v).cast("double")
    // directed ∩ aggregates per (a, b): the both-present terms plus
    // the ∩ portions of the two one-sided sweeps (to subtract). The
    // S²-row result of the |observed|-scale self-join settles so the
    // assembly below references rows, not the join subtree.
    val inter = st.settle(p.as("x").join(p.as("y"),
        col("x.tok") === col("y.tok") && col("x.source") =!= col("y.source"))
      .groupBy(col("x.source").as("a"), col("y.source").as("b"))
      .agg(
        sum(term(col("x.p"), col("y.p"))).as("i_both"),
        sum(term(col("x.p"), absentP(col("y.n"), col("x.v")))).as("i_aside"),
        sum(term(absentP(col("x.n"), col("x.v")), col("y.p"))).as("i_bside"),
        count(lit(1)).as("n_common")), "intersect")
    // directed one-sided sweeps per (a, b): a's FULL token list scored
    // against b's absent-prob — |observed|·(S−1) rows, never V·S.
    // The S(S−1)-row result is JOINED TWICE in the assembly (forward as
    // f_ab, mirrored as g_ba): unsettled, the full |observed|·(S−1)
    // sweep aggregation executed twice — the probe's biggest single
    // re-execution in this query.
    val sweep = st.settle(p.as("x").join(
        broadcast(prof.select(col("source").as("b"), col("n").as("nb"))),
        col("x.source") =!= col("b"))
      .groupBy(col("x.source").as("a"), col("b"))
      .agg(
        // tok ∈ a, scored in direction a→b (a present, b absent)
        sum(term(col("x.p"), absentP(col("nb"), col("x.v")))).as("f_ab"),
        // tok ∈ a, scored in direction b→a (b absent side is the P)
        sum(term(absentP(col("nb"), col("x.v")), col("x.p"))).as("g_ab")), "sweep")
    // assemble directed KL on the S²-row grid
    val pairs = prof.select(col("source").as("a"), col("n").as("na"),
        col("nt").as("nta"))
      .join(prof.select(col("source").as("b"), col("n").as("nb"),
        col("nt").as("ntb")), col("a") =!= col("b"))
      .crossJoin(broadcast(vc))
    val d20 = DecimalType(20, 9)
    val dir0 = pairs
      .join(sweep, Seq("a", "b"), "left")
      .join(sweep.select(col("a").as("b"), col("b").as("a"),
        col("g_ab").as("g_ba")), Seq("a", "b"), "left")
      .join(inter, Seq("a", "b"), "left")
      .select(col("a"), col("b"),
        (coalesce(col("i_both"), lit(0).cast(d20)) +
          (coalesce(col("f_ab"), lit(0).cast(d20)) -
            coalesce(col("i_aside"), lit(0).cast(d20))) +
          (coalesce(col("g_ba"), lit(0).cast(d20)) -
            coalesce(col("i_bside"), lit(0).cast(d20))) +
          // count × rounded-constant: DECIMAL(17,0)×DECIMAL(20,9) →
          // DECIMAL(38,9), exact with headroom to 10^17 tokens (a
          // (10,0) count overflows-to-null past 10^10 with ANSI off,
          // silently nulling the KL cell). The product is then cast
          // back to (31,9) — lossless until ~10^22 integer digits —
          // because leaving it at precision 38 makes the FOLLOWING
          // addition overflow the 38 cap and shed the 9th decimal
          // (scale 9 → 8, observed as a last-digit gate mismatch).
          ((col("v") - col("nta") - col("ntb") +
            coalesce(col("n_common"), lit(0L))).cast(DecimalType(17, 0)) *
            term(absentP(col("na"), col("v")), absentP(col("nb"), col("v"))))
            .cast(DecimalType(31, 9)))
          .as("kl"))
    // fold the directed S(S−1) rows to unordered pairs in ONE pass
    // (a dir0⋈dir0 self-join would re-execute the sweep lineage twice)
    dir0.select(least(col("a"), col("b")).as("src_a"),
        greatest(col("a"), col("b")).as("src_b"),
        when(col("a") < col("b"), col("kl")).as("k_fwd"),
        when(col("a") > col("b"), col("kl")).as("k_rev"))
      .groupBy("src_a", "src_b")
      .agg(max(col("k_fwd")).cast("double").as("kl_ab"),
        max(col("k_rev")).cast("double").as("kl_ba"))
      .orderBy("src_a", "src_b")
  }

  // ---- L80: mixed-language (code-switching) detection ------------------------
  /** Language-CONSISTENCY check — x1's detector run on each document
    * HALF: a doc whose halves disagree is mixed-language
    * (code-switching, concatenated crawl fragments, template+content
    * mixes) — a low-value doc for monolingual training that x1's
    * whole-doc vote hides (the majority half wins and the minority
    * half rides in). Mixed docs are planted by appending each doc's
    * successor's text (cross-lang at the corpus's natural mixing
    * rate), halves split on CHARACTERS (identical semantics both
    * engines), each half classified by the same fused compiled kernel
    * x1's hash match proves. One map pass + one id-shifted join. */
  def x31LangConsistency(s: SparkSession, dir: String): DataFrame = {
    val raw = t(s, dir, "documents").select("doc_id", "lang", "text")
    val mixed = raw.as("r")
      .join(raw.select(col("doc_id").as("nid"), col("text").as("ntext")).as("n"),
        col("r.doc_id") + 1 === col("nid"), "left")
      .select(col("r.doc_id").as("doc_id"), col("r.lang").as("lang"),
        concat(col("r.text"), lit(" "),
          coalesce(col("ntext"), col("r.text"))).as("mtext"))
    mixed.select(col("doc_id"), col("lang"),
        TextAnalysis.langId(
          expr("substring(mtext, 1, length(mtext) div 2)")).as("lang_h1"),
        TextAnalysis.langId(
          expr("substring(mtext, length(mtext) div 2 + 1)")).as("lang_h2"))
      .withColumn("consistent", col("lang_h1") === col("lang_h2"))
      .orderBy("doc_id")
  }

  // ---- L79: per-language corpus datasheet ------------------------------------
  /** The corpus DATASHEET — the per-language health report a curation
    * run publishes (Gebru et al. 2021's "datasheets" idea at corpus
    * level): doc and token counts, token share, mean quality, and
    * exact-duplicate exposure, each column a proven fragment (x2's
    * score, d1's digest dedup) composed into one read. Duplicates are
    * planted in-corpus (doc k%7==3 takes its predecessor's text, lang
    * kept) so the dup column has real catches in every slice. Mean
    * quality uses the e9 device — per-doc score ROUNDED to 6 and
    * summed as exact DECIMAL, so the mean is partition-order-free with
    * ONE terminal IEEE division. One corpus pass + digest/lang
    * aggregations; only digests and per-lang rows shuffle. */
  def p4CorpusDatasheet(s: SparkSession, dir: String): DataFrame = Settle.scope("p4_corpus_datasheet") { st =>
    val raw = t(s, dir, "documents").select("doc_id", "lang", "text")
    val planted = raw.as("r")
      .join(raw.select(col("doc_id").as("pid"), col("text").as("ptext")).as("p"),
        col("r.doc_id") - 1 === col("pid"), "left")
      .select(col("r.doc_id").as("doc_id"), col("r.lang").as("lang"),
        when(col("r.doc_id") % 7 === 3 && col("ptext").isNotNull,
          col("ptext")).otherwise(col("r.text")).as("text"))
    val q = st.cache(planted.select(Seq(col("doc_id"), col("lang"),
        sha2(Dedup.normText(col("text")), 256).as("digest")) ++
        TextAnalysis.qualityColumns(col("text")): _*)
      .select(col("doc_id"), col("lang"), col("digest"), col("n_tokens"),
        round(col("quality_score"), 6).cast("decimal(12,6)").as("q6")))
    val dup = q.groupBy("digest").agg(count(lit(1)).as("nc"))
      .filter(col("nc") >= 2).select("digest")
    val fl = q.join(dup, Seq("digest"), "left_semi")
      .groupBy("lang").agg(count(lit(1)).as("n_dup_docs"))
    val tt = q.agg(sum(col("n_tokens")).as("tok_all"))
    q.groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"),
        (sum(col("q6")).cast("double") / count(lit(1)).cast("double"))
          .as("mean_quality"))
      .join(fl, Seq("lang"), "left")
      .crossJoin(broadcast(tt))
      .select(col("lang"), col("n_docs"), col("n_tokens"),
        (col("n_tokens").cast("double") / col("tok_all").cast("double"))
          .as("tok_share"),
        col("mean_quality"),
        coalesce(col("n_dup_docs"), lit(0L)).as("n_dup_docs"))
      .orderBy("lang")
  }

  // ---- L93: Zipf rank-frequency fit ----------------------------------------
  /** Per-source Zipf power-law fit — the rank-frequency companion to
    * x33's Heaps law: least-squares slope/intercept of ln(count) on
    * ln(rank) over each source's top-200 tokens (rank by count desc,
    * token asc — fully deterministic). A healthy natural-language
    * source sits near slope −1; flatter = templated/boilerplate,
    * steeper = degenerate repetition — a corpus-mix health read
    * BEFORE training.
    *
    * Exactness device — the INTEGER-MICROS grid: ln(rank) and
    * ln(count) (both of INTEGERS, identical inputs cross-engine)
    * round to 6 dp and scale to integer micros through an exact
    * decimal hop, so all four regression sums (Σx, Σy, Σxy, Σx²) are
    * plain BIGINT arithmetic — order-free, and bounded INDEPENDENT of
    * corpus size (rank ≤ 200 and ln count ≤ 28 cap Σxy at ~3·10¹⁶ —
    * long-safe at 100 TB). The slope/intercept then derive through a
    * PINNED sequence of double ops on int64→double casts (correctly
    * rounded on every engine — unlike high-scale decimal→double,
    * which DuckDB 1.0 rounds incorrectly at scale 18; measured). Scale
    * shape: one corpus tokenize → (source, token) count shuffle →
    * source-partitioned rank window → top-200 filter → per-source
    * aggregate; everything after the count table is vocab-bounded.
    * Fit core in [[graft.operators.TextAnalysis.zipfFromCounts]]
    * (shared with the S27 streaming monitor — the count table is a
    * semigroup, so the stream folds it as state). */
  def x38Zipf(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.zipfFromCounts(
      t(s, dir, "documents")
        .select(col("source"),
          explode(TextAnalysis.tokens(col("text"))).as("tok"))
        .filter(col("tok") =!= "")
        .groupBy("source", "tok").agg(count(lit(1)).as("c")),
      topR = 200)

  // ---- L92: k-center coreset selection -------------------------------------
  /** Greedy farthest-point (Gonzalez) k-center selection over the
    * embedding corpus — diverse COVERAGE sampling, the complement of
    * d10's redundancy removal and x10/x25's mass-weighted draws: 8
    * centers that span the space, each with its covering radius at
    * selection and the census of vectors it serves. See
    * [[graft.operators.Clustering.kCenterCoreset]] for the scale
    * argument (k map-only passes with the shared literal-centroid
    * kernel + TakeOrdered(1); no vector shuffle, driver state = k
    * centers). */
  def e16KcenterCoreset(s: SparkSession, dir: String): DataFrame =
    Clustering.kCenterCoreset(t(s, dir, "embeddings"), "vec_id",
      "embedding", k = 8)

  /** e16 oracle: the identical traversal as generated CTEs — seed =
    * min id, then 7× (argmax of the running LEAST-folded min squared
    * distance, ties to the smaller id), census by e3's (d asc, step
    * asc) ROW_NUMBER device over the 8 selected centers. */
  private def e16OracleSql: String = {
    val k = 8
    val steps = (1 until k).map { i =>
      val prev = s"m$i"
      val m = if (i == 1)
        s"""m1 AS (SELECT e.vec_id, e.v,
           |    list_inner_product(s.cv, s.cv)
           |      - 2 * list_inner_product(e.v, s.cv)
           |      + list_inner_product(e.v, e.v) AS dmin
           |  FROM emb e, s0 s)""".stripMargin
      else
        s"""m$i AS (SELECT m.vec_id, m.v, LEAST(m.dmin,
           |    list_inner_product(s.cv, s.cv)
           |      - 2 * list_inner_product(m.v, s.cv)
           |      + list_inner_product(m.v, m.v)) AS dmin
           |  FROM m${i - 1} m, s${i - 1} s)""".stripMargin
      s"""$m,
         |s$i AS (SELECT $i AS step, vec_id AS cid, v AS cv, dmin AS d2
         |  FROM $prev ORDER BY dmin DESC, vec_id LIMIT 1)""".stripMargin
    }.mkString(",\n")
    val union = (0 until k).map(i => s"SELECT * FROM s$i").mkString("\n  UNION ALL ")
    s"""WITH emb AS (SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |s0 AS (SELECT 0 AS step, vec_id AS cid, v AS cv,
       |    CAST(NULL AS DOUBLE) AS d2
       |  FROM emb ORDER BY vec_id LIMIT 1),
       |$steps,
       |allsel AS ($union),
       |asg AS (SELECT e.vec_id, a.step,
       |    ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
       |      list_inner_product(a.cv, a.cv)
       |        - 2 * list_inner_product(e.v, a.cv) ASC, a.step ASC) AS rn
       |  FROM emb e CROSS JOIN allsel a),
       |cns AS (SELECT step, COUNT(*) AS n_assigned FROM asg
       |  WHERE rn = 1 GROUP BY step)
       |SELECT CAST(a.step AS BIGINT) AS step, a.cid AS center_id,
       |  ROUND(SQRT(CASE WHEN a.d2 < 0.0 THEN 0.0 ELSE a.d2 END), 6) + 0.0
       |    AS radius,
       |  CAST(COALESCE(c.n_assigned, 0) AS BIGINT) AS n_assigned
       |FROM allsel a LEFT JOIN cns c ON c.step = a.step
       |ORDER BY step""".stripMargin
  }

  // ---- L94: moving-average type-token ratio --------------------------------
  /** Window-stabilized lexical diversity per document
    * ([[graft.operators.TextAnalysis.mattr]], MATTR — McCarthy &
    * Jarvis 2010): mean distinct-token count over every 25-token
    * sliding window, the quality signal that catches looped
    * boilerplate x2's ratios and x8's run checks miss. Entirely
    * within-row array HOFs — one scan, zero shuffle, zero explode;
    * exact integer window sums, ONE terminal IEEE division. */
  def x39Mattr(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.mattr(t(s, dir, "documents"), "doc_id", "text", w = 25)

  // ---- L91: character-entropy quality signal -------------------------------
  /** Per-document Shannon entropy of the character and character-BIGRAM
    * distributions, in bits — the compression-style quality signal the
    * x2/x18 ratio rules don't carry: keyboard mash, repeated
    * boilerplate, and template spam all collapse character entropy
    * (and bigram entropy separates "rich alphabet, repetitive
    * sequence" from genuinely diverse text), while natural language
    * sits in a stable band per script. `low_entropy` flags docs under
    * a pinned 3.5-bit unigram threshold.
    *
    * Scale shape: the [[graft.expressions.TextEntropyNanos]] kernel
    * computes each doc's term sum in ONE compiled pass over the text
    * (primitive sort + run-count histogram — no per-character row
    * explosion, text never shuffles; the d17 kernel posture). The
    * cross-engine contract is exact: per-gram terms round to 9 dp
    * before an order-free sum (x24's device), so the oracle's
    * explode-and-aggregate replay matches the fused kernel
    * bit-for-bit, and the bits conversion is two pinned IEEE ops. */
  def x37Entropy(s: SparkSession, dir: String): DataFrame = {
    val ln2 = 0.6931471805599453 // Math.log(2), pinned as a literal
    t(s, dir, "documents")
      .select(col("doc_id"), length(col("text")).as("n_chars_m"),
        TextAnalysis.entropyNanos(col("text"), 1).as("uni_nanos"),
        TextAnalysis.entropyNanos(col("text"), 2).as("bi_nanos"))
      .withColumn("uni_bits",
        col("uni_nanos").cast(DoubleType) / lit(-1.0e9) / lit(ln2))
      .withColumn("bi_bits",
        col("bi_nanos").cast(DoubleType) / lit(-1.0e9) / lit(ln2))
      .withColumn("low_entropy", col("uni_bits") < lit(3.5))
      .orderBy("doc_id")
  }

  // ---- P5: dataset mixing-plan solver --------------------------------------
  /** The data-budget solver run BEFORE a pretraining mixture is fixed
    * (the LLaMA/DoReMi-style mixing table): given per-source available
    * tokens, integer target-weight units u_s (pinned: source ordinal
    * mod 4, plus 1), and a hard epoch cap E=4, find the largest total
    * budget T* every source can serve within its cap —
    * T* = min_s ⌊avail_s·E·U / u_s⌋ (U = Σu) — then each source's
    * allocation ⌊u_s·T* / U⌋, its implied epoch count on the 10⁻⁶ grid,
    * and whether it BINDS the budget (its cap attains the min — the
    * source more of which would let the whole mix grow).
    *
    * Entirely integer arithmetic (products staged through
    * DECIMAL(38,0) so no scale overflows, integral division both
    * engines replay exactly; epochs = one exactly-representable IEEE
    * division). Scale shape: ONE corpus scan → source-cardinality
    * aggregate; the two scalars (U, T*) ride 1-row broadcast crosses
    * over the tiny source table — the corpus is never touched again. */
  def p5MixingPlan(s: SparkSession, dir: String): DataFrame =
    Sampling.mixingPlan(
      t(s, dir, "documents")
        .select(col("source"),
          size(TextAnalysis.tokens(col("text"))).cast(LongType).as("n_tokens"))
        .groupBy("source").agg(sum("n_tokens").as("avail"))
        .withColumn("u",
          regexp_extract(col("source"), "(\\d+)", 1).cast(LongType) % 4 + 1),
      cap = 4L)

  // ---- L78: quality-threshold yield curve -----------------------------------
  /** The yield-vs-quality TRADE for x2's composite score — doc and
    * TOKEN retention at cutoffs τ ∈ {0.3, 0.5, 0.7, 0.9}, the curve an
    * operator reads before fixing a filter threshold (the x2-filter
    * analog of d16/e10's index calibration: a cutoff that keeps 95% of
    * docs but 99% of tokens is a very different knife than one keeping
    * 95%/80%). ONE corpus scan: every τ's doc/token conditional sums
    * ride a single aggregation row, exploded to the curve — no
    * per-threshold re-scan; comparisons agree cross-engine because
    * x2's score is an identical IEEE sequence on both (proven by x2's
    * own hash match). */
  def x30FilterTradeoff(s: SparkSession, dir: String): DataFrame = {
    val taus = Seq(0.3, 0.5, 0.7, 0.9)
    val q = t(s, dir, "documents")
      .select(TextAnalysis.qualityColumns(col("text")): _*)
      .select(col("n_tokens"), col("quality_score"))
    val aggs = taus.zipWithIndex.flatMap { case (t0, i) => Seq(
      sum(when(col("quality_score") >= t0, 1L).otherwise(0L)).as(s"k$i"),
      sum(when(col("quality_score") >= t0, col("n_tokens")).otherwise(0L))
        .as(s"tk$i"))
    } ++ Seq(count(lit(1)).as("n"), sum(col("n_tokens")).as("tok"))
    q.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(taus.zipWithIndex.map { case (t0, i) =>
        struct(lit(t0).as("threshold"), col(s"k$i").as("n_kept"),
          (col(s"k$i").cast("double") / col("n").cast("double"))
            .as("keep_rate"),
          col(s"tk$i").as("tok_kept"),
          (col(s"tk$i").cast("double") / col("tok").cast("double"))
            .as("tok_share"))
      }: _*)).as("e"))
      .select(col("e.threshold"), col("e.n_kept"), col("e.keep_rate"),
        col("e.tok_kept"), col("e.tok_share"))
      .orderBy("threshold")
  }

  // ---- L77: stratified split (largest-remainder allocation) -----------------
  /** Proportional STRATIFIED sampling via the largest-remainder
    * (Hamilton) method — the eval/holdout-set constructor x7's plain
    * md5 buckets can't give (a uniform 2% split under-represents small
    * (lang, source) strata; this one allocates ⌊n_i·k/N⌋ + the k−Σ⌊⌋
    * largest remainders, so every stratum lands within 1 of exact
    * proportionality — Hamilton's house-monotone guarantee). All
    * allocation arithmetic is exact integers (remainders compared as
    * n_i·k mod N — no float quotas anywhere); within each stratum the
    * selection is the md5-order prefix (x9's deterministic device,
    * layout-independent), fingerprinted as md5 of the sorted id list.
    * Scale shape: allocation runs entirely on the strata-cardinality
    * table (tiny, one unpartitioned window — t51's bounded-window
    * argument); the corpus sees one (lang, source)-key window shuffle
    * + a broadcast allocation join. */
  def x29StratifiedSplit(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val k = 100
    val docs = t(s, dir, "documents").select("doc_id", "lang", "source")
    val strata = docs.groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"))
    val tot = strata.agg(sum("n_docs").as("nn"))
    val al = strata.crossJoin(broadcast(tot))
      .withColumn("base", expr(s"(n_docs * $k) div nn"))
      .withColumn("rem", expr(s"(n_docs * $k) % nn"))
      .withColumn("rk", row_number().over(
        Window.orderBy(col("rem").desc, col("lang"), col("source"))))
    val lo = al.agg((lit(k) - sum("base")).as("lo"))
    val alloc = al.crossJoin(broadcast(lo))
      .withColumn("allocated", least(col("n_docs"),
        col("base") + when(col("rk") <= col("lo"), 1L).otherwise(0L)))
      .select("lang", "source", "n_docs", "allocated")
    val sel = docs
      .withColumn("rn", row_number().over(
        Window.partitionBy("lang", "source")
          .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))))
      .join(broadcast(alloc.select("lang", "source", "allocated")),
        Seq("lang", "source"))
      .filter(col("rn") <= col("allocated"))
    val ag = sel.groupBy("lang", "source")
      .agg(count(lit(1)).as("n_selected"),
        md5(concat_ws(",", transform(array_sort(collect_list(col("doc_id"))),
          v => v.cast("string")))).as("sel_md5"))
    alloc.join(ag, Seq("lang", "source"), "left")
      .select(col("lang"), col("source"), col("n_docs"), col("allocated"),
        coalesce(col("n_selected"), lit(0L)).as("n_selected"),
        coalesce(col("sel_md5"), md5(lit(""))).as("sel_md5"))
      .orderBy("lang", "source")
  }

  // ---- L76: clustering stability (adjusted Rand index) ----------------------
  /** Cluster-assignment STABILITY via the adjusted Rand index (Hubert &
    * Arabie 1985) between two deterministic k-means fits that differ
    * ONLY in their init sample (md5 salt "" vs "b") — the third leg of
    * the clustering family: e3 fits, e9 scores cohesion, e12 asks
    * whether the structure is REAL (a clustering that changes under an
    * init nudge is an artifact of the init, not of the data; ARI → 1
    * means the corpus genuinely has these clusters, ARI ≈ 0 means
    * chance agreement). All counting is exact integers — the
    * contingency table is k² rows, its pair-count sums Σ C(n,2) are
    * exact BIGINTs, and ARI = (S − AB/T) / ((A+B)/2 − AB/T) evaluates
    * the same IEEE sequence on both engines. The two fits are the
    * proven e3 machinery (map-only assignment, k-row shuffle per
    * iteration); everything after is type²-sized. */
  def e12KmeansAri(s: SparkSession, dir: String): DataFrame = Settle.scope("e12_kmeans_ari") { st =>
    def comb2(c: Column): Column = ((c * (c - lit(1))) / lit(2)).cast("long")
    val emb = t(s, dir, "embeddings")
    val a = Clustering.kmeansAssign(emb, "vec_id", "embedding", 8, 3)
      .select(col("id"), col("cluster").as("ca"))
    val b2 = Clustering.kmeansAssign(emb, "vec_id", "embedding", 8, 3,
        initSalt = "b")
      .select(col("id"), col("cluster").as("cb"))
    val cont = st.cache(a.join(b2, Seq("id"))
      .groupBy("ca", "cb").agg(count(lit(1)).as("n")))
    val sAgg = cont.agg(sum(comb2(col("n"))).as("s"), sum(col("n")).as("nn"),
      countDistinct("ca").as("k_a"), countDistinct("cb").as("k_b"))
    val aAgg = cont.groupBy("ca").agg(sum("n").as("t"))
      .agg(sum(comb2(col("t"))).as("ac"))
    val bAgg = cont.groupBy("cb").agg(sum("n").as("t"))
      .agg(sum(comb2(col("t"))).as("bc"))
    val expS = (col("ac") * col("bc")).cast("double") /
      comb2(col("nn")).cast("double")
    sAgg.crossJoin(aAgg).crossJoin(bAgg)
      .select(col("nn").as("n_points"), col("k_a"), col("k_b"),
        col("s").as("sum_comb"), col("ac").as("a_comb"),
        col("bc").as("b_comb"),
        ((col("s").cast("double") - expS) /
          ((col("ac") + col("bc")).cast("double") / lit(2.0) - expS))
          .as("ari"))
  }

  // ---- L74: Count-Min sketch point-frequency queries ------------------------
  /** Count-Min sketch (Cormode & Muthukrishnan 2005) — the fixed-size
    * frequency sketch next to x14's Misra-Gries top-k: 4 seeded md5
    * hash rows × 1024 buckets of purely ADDITIVE counts, so state is
    * 4096 cells whatever the corpus and merges across partitions,
    * batches, and streams by plain addition; answers a point query for
    * ANY token as est = min over rows, guaranteed ≥ truth
    * (conservative — every occurrence lands in the probed cell; only
    * collisions inflate it; spec-pinned). Probes: the corpus's exact
    * top-10 tokens (deterministic (cnt desc, token) cut) + 5 md5-order
    * sampled tokens, reading both the heavy-hitter and the
    * collision-noise regimes; the exact counts are the verification
    * twin a 100 TB run drops. md5-prefix buckets so every cell and
    * estimate replays bit-exact in DuckDB. Shuffle profile: only
    * (seed, bucket) int pairs and (token, count) rows move — map-side
    * combined; the 4096-cell table broadcasts to the probes. */
  def x28CountMin(s: SparkSession, dir: String): DataFrame =
    countMinProbe(t(s, dir, "documents")
        .select(explode(TextAnalysis.tokens(col("text"))).as("tok")),
      seeds = 4, buckets = 1024)

  /** CMS core over a single `tok` column — parameterized so the spec
    * can shrink `buckets` to force collisions and pin est ≥ truth. */
  def countMinProbe(tokens: DataFrame, seeds: Int, buckets: Int): DataFrame = Settle.scope("countMinProbe") { st =>
    def bucketOf(sd: Int, c: Column): Column =
      pmod(conv(substring(md5(concat(lit(sd + "|"), c)), 1, 15), 16, 10)
        .cast("long"), lit(buckets))
    // r14 (guide §2.3 aggregate-before-you-shuffle, §4 per-row work):
    // count tokens FIRST, then derive the CMS cells from the count
    // table — addition is associative, so summing per-token exact
    // counts into (seed, bucket) cells is bit-identical to counting
    // occurrences, and the 4 md5 probes run once per DISTINCT token
    // instead of once per occurrence (the dominant map cost). The
    // exact-count table is also exactly what the probe selection
    // needs, so one aggregation serves all three consumers (cached:
    // heavy + sampled cuts and the cell derivation).
    val exact = st.cache(tokens.filter(col("tok") =!= "")
      .groupBy("tok").agg(count(lit(1)).as("exact_n")))
    val cells = exact
      .select(col("exact_n"), posexplode(array((0 until seeds).map(sd =>
        bucketOf(sd, col("tok"))): _*)).as(Seq("seed", "bucket")))
      .groupBy("seed", "bucket").agg(sum("exact_n").as("c"))
    val heavy = exact.orderBy(col("exact_n").desc, col("tok")).limit(10)
    val sampled = exact.orderBy(md5(col("tok")), col("tok")).limit(5)
    heavy.unionByName(sampled).distinct()
      .select(col("tok"), col("exact_n"),
        posexplode(array((0 until seeds).map(sd =>
          bucketOf(sd, col("tok"))): _*)).as(Seq("seed", "bucket")))
      .join(broadcast(cells), Seq("seed", "bucket"))
      .groupBy("tok", "exact_n").agg(min("c").as("cms_n"))
      .select(col("tok"), col("exact_n"), col("cms_n"),
        (col("cms_n") - col("exact_n")).as("overcount"))
      .orderBy(col("exact_n").desc, col("tok"))
  }

  // ---- L73: Matryoshka dimension-truncation recall sweep --------------------
  /** Embedding-DIMENSION recall curve — recall@10 of brute cosine over
    * the d-prefix of each embedding (d ∈ {8, 16, 32, 64}) against the
    * full-64-dim ground truth: the Matryoshka/truncation read (Kusupati
    * et al. 2022) that prices the OTHER compression axis next to s4's
    * int8 width (fewer dims × full precision vs all dims × 8 bits) —
    * at 100 TB, storing the 16-prefix is a 4× index shrink and this
    * measures exactly what it costs on the corpus's own queries. All
    * sweeps share the same 5 query vectors and the same deterministic
    * (cos desc, id) tiebreak, so d=64 recalls 1.0 identically and the
    * curve isolates the dimension count. Intentional broadcast crosses
    * (the s1/e10 allowlisted shape). */
  def e11MatryoshkaSweep(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    def trunc(df: DataFrame, d: Int): DataFrame =
      df.select(col("vec_id"), slice(col("embedding"), 1, d).as("embedding"))
    val qs = emb.filter(col("vec_id") < 5)
    val full = Similarity.bruteTopK(emb, qs, k = 10).select("qid", "id")
    Seq(8, 16, 32, 64).map { d =>
      val cut = Similarity.bruteTopK(trunc(emb, d), trunc(qs, d), k = 10)
        .select("qid", "id")
      full.agg(count(lit(1)).as("n_full"))
        .crossJoin(full.join(cut, Seq("qid", "id"), "left_semi")
          .agg(count(lit(1)).as("n_overlap")))
        .select(lit(d).as("dims"), col("n_full"), col("n_overlap"),
          (col("n_overlap").cast("double") / col("n_full").cast("double"))
            .as("recall"))
    }.reduce(_.unionByName(_)).orderBy("dims")
  }

  // ---- L72: LSH band-count recall/precision sweep --------------------------
  /** The S-curve calibration harness for the MinHash-LSH dedup family
    * — d16 is to d2 what e10 is to s3: candidate-stage recall AND
    * candidate precision at band configs (4×4, 8×2, 16×1) over ONE
    * shared h=16 md5-minhash signature, measured against the EXACT
    * all-pairs Jaccard ≥ 0.5 ground truth on a deterministic md5-order
    * 300-doc sample (+ planted near-copies, d2's device). Theory:
    * P(candidate) = 1−(1−jʳ)ᵇ — more, shorter bands catch more of the
    * j ≥ 0.5 region but admit more false candidates for the verify
    * stage to kill; this measures that trade on the corpus itself,
    * the dial an operator sets before fixing the 100 TB config (d2
    * ships 32×2 over h=64 for exactly this curve's reason). md5-prefix
    * hashes (d15's replayability device) make signatures, band keys,
    * truth, and both ratios replay bit-exact in DuckDB. The sample's
    * all-pairs truth join is an intentional broadcast cross (e10's
    * allowlisted shape) — calibration runs on a sample, the production
    * path stays banded. The length-ratio prefilter is lossless for
    * j ≥ 0.5 (that similarity forces set sizes within 2×). */
  def d16LshBandSweep(s: SparkSession, dir: String): DataFrame = Settle.scope("d16_lsh_band_sweep") { st =>
    val h = 16
    val base = t(s, dir, "documents")
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id")).limit(300)
      .select(col("doc_id").as("id"), col("text"))
    val docs = base.union(base.select((col("id") + lit(1000000L)).as("id"),
      concat(col("text"), lit(" zz qq")).as("text")))
    val sh = st.cache(docs
      // the same bind-once device as tenWordSegs: a plain `words`
      // attribute inside the per-shingle lambda would inline the
      // split+regexp per element (O(tokens²) per doc)
      .withColumn("sh", expr(
        "transform(array(split(trim(regexp_replace(lower(text), " +
          "'\\\\s+', ' ')), ' ')), ws -> array_distinct(transform(" +
          "sequence(1, greatest(size(ws) - 2, 1)), " +
          "i -> array_join(slice(ws, i, 3), ' '))))[0]"))
      .select("id", "sh"))
    // signature + truth hashes via ONE shingle explode and codegen'd
    // md5 projections folded by mergeable min/collect aggregations —
    // an array_min(transform(...)) spelling re-evaluates interpreted
    // lambdas per element (17 md5s/shingle outside codegen, measured
    // 2× the whole query)
    val exploded = sh.select(col("id"), explode(col("sh")).as("sg"))
    val minCols = (0 until h).map(k =>
      min(conv(substring(md5(concat(lit(k + "|"), col("sg"))), 1, 15),
        16, 10).cast("long")).as(s"m$k"))
    val sig = st.cache(exploded
      .groupBy("id").agg(minCols.head, minCols.tail: _*)
      .select(col("id"),
        array((0 until h).map(k => col(s"m$k")): _*).as("sig")))
    // truth sets as SORTED md5-hash longs: the exact-Jaccard cross runs
    // a native merge-scan intersect instead of string-set hashing
    // (~10× on the sample cross); the oracle replays the SAME hashed
    // sets, so parity stays bit-exact — only the truth's relation to
    // raw strings is modulo md5 collisions (the d2/d15 precedent)
    val hashed = st.cache(exploded
      .select(col("id"),
        conv(substring(md5(concat(lit("g|"), col("sg"))), 1, 15), 16, 10)
          .cast("long").as("h1"))
      .groupBy("id").agg(array_sort(collect_set(col("h1"))).as("hv")))
    val commonN = graft.expressions.Kernels.sortedIntersectCount(col("a.hv"), col("b.hv"))
      .cast("double")
    val truth = st.cache(hashed.as("a").join(hashed.as("b"),
        col("a.id") < col("b.id") &&
          size(col("a.hv")) * 2 >= size(col("b.hv")) &&
          size(col("b.hv")) * 2 >= size(col("a.hv")))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        commonN.as("common"),
        (size(col("a.hv")) + size(col("b.hv"))).cast("double").as("sz"))
      .filter(col("common") / (col("sz") - col("common")) >= 0.5)
      .select("id_a", "id_b"))
    // ALL configs ride ONE tagged band explode + ONE self-join + ONE
    // truth semi-join (a per-config loop costs 3× the plan/codegen and
    // 9 scheduler jobs — measured as most of the query at sf0.1)
    val configs = Seq((4, 4), (8, 2), (16, 1))
    val ex = sig.select(col("id"), explode(array(configs.flatMap {
        case (b, r) => (0 until b).map(i =>
          struct(lit(b).as("bands"), lit(i).as("band"),
            concat_ws(",", transform(slice(col("sig"), i * r + 1, r),
              v => v.cast("string"))).as("key")))
      }: _*)).as("e"))
      .select(col("id"), col("e.bands").as("bands"),
        col("e.band").as("band"), col("e.key").as("key"))
    val cand = st.cache(ex.as("x").join(ex.as("y"),
        col("x.bands") === col("y.bands") &&
          col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.id") < col("y.id"))
      .select(col("x.bands").as("bands"), col("x.id").as("id_a"),
        col("y.id").as("id_b"))
      .distinct())
    val nCand = cand.groupBy("bands").agg(count(lit(1)).as("n_cand"))
    val caught = cand.join(truth, Seq("id_a", "id_b"), "left_semi")
      .groupBy("bands").agg(count(lit(1)).as("n_caught"))
    // 3-row result settles eagerly so the five sample-scale caches
    // (shingles, signatures, hashed sets, truth, candidates) go on return
    st.settle(nCand.join(caught, Seq("bands"), "left")
      .crossJoin(broadcast(truth.agg(count(lit(1)).as("n_true"))))
      .select(col("bands"), (lit(h) / col("bands")).cast("int")
          .as("rows_per_band"),
        col("n_true"), col("n_cand"),
        coalesce(col("n_caught"), lit(0L)).as("n_caught"),
        (coalesce(col("n_caught"), lit(0L)).cast("double") /
          nullif(col("n_true").cast("double"), lit(0.0))).as("recall"),
        (coalesce(col("n_caught"), lit(0L)).cast("double") /
          nullif(col("n_cand").cast("double"), lit(0.0)))
          .as("cand_precision")), "recall")
      .orderBy("bands")
  }

  // ---- L62: hybrid lexical+dense retrieval (RRF) ---------------------------
  /** Hybrid search — the standard RAG retrieval pattern: BM25 top-20
    * (x11's proven lexical scorer, deterministic rounded-score/id cut)
    * fused with brute-cosine top-20 for query vector 0 (s1's proven
    * dense ranking) by Reciprocal Rank Fusion
    * ([[graft.operators.Retrieval.rrfFuse]], k=60). documents.doc_id
    * and embeddings.vec_id share the id space, so the fusion join is
    * real. Scale shape: each side is already a top-k cut (corpus-sized
    * work happens inside the proven rankers); the fuse itself touches
    * ≤ 40 rows. Output: fused top-10 with both source ranks — rows
    * found by only one ranker surface with a null partner rank. */
  def s6HybridRrf(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lex = Retrieval.bm25(t(s, dir, "documents"), "doc_id", "text",
        bm25Terms)
      .orderBy(col("score").desc, col("id")).limit(20)
      .select(col("id"),
        row_number().over(Window.orderBy(col("score").desc, col("id")))
          .as("rk"))
    val emb = t(s, dir, "embeddings")
    val vec = Similarity.bruteTopK(emb, emb.filter(col("vec_id") === 0),
        k = 20)
      .select(col("id"), col("rk"))
    Retrieval.rrfFuse(lex, vec, kRrf = 60, topK = 10)
      .select(col("rk"), col("id"), col("rk_lex"), col("rk_vec"),
        col("rrf"))
      .orderBy("rk")
  }

  // ---- L13: IVF ANN (sampled-centroid cells + multi-probe) ----------------
  def s3AnnIvf(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 5), k = 10,
        nCells = 16, nProbe = 4)
      .withColumn("cos", round(col("cos"), 6))
      .select("qid", "id", "cos", "rk")
      .orderBy("qid", "rk")
  }

  // ---- L20: product-quantization ANN (ADC + exact re-rank) ----------------
  def s5AnnPq(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Similarity.pqTopK(emb, emb.filter(col("vec_id") < 5), k = 10,
        m = 8, ks = 16, rerank = 4)
      .withColumn("cos", round(col("cos"), 6))
      .select("qid", "id", "cos", "rk")
      .orderBy("qid", "rk")
  }

  // ---- L14: int8 embedding quantization -----------------------------------
  def s4QuantCosine(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("scale", Quantize.int8Scale(col("v")))
    val quant = base.withColumn("q", Quantize.toInt8(col("v"), col("scale")))
      .withColumn("nv", VectorOps.norm(col("v")))
    val probe = quant.filter(col("vec_id") === 0)
      .select(col("q").as("q0"), col("scale").as("s0"),
        col("v").as("v0"), col("nv").as("nv0"))
    quant.filter(col("vec_id") =!= 0).crossJoin(broadcast(probe))
      .select(col("vec_id"),
        (VectorOps.dot(col("v"), col("v0")) / (col("nv") * col("nv0"))).as("cos_exact"),
        (Quantize.dotInt8(col("q"), col("q0"), col("scale"), col("s0")) /
          (col("nv") * col("nv0"))).as("cos_q"))
      .withColumn("abs_err", abs(col("cos_exact") - col("cos_q")))
      .withColumn("cos_exact", round(col("cos_exact"), 6))
      .withColumn("cos_q", round(col("cos_q"), 6))
      .withColumn("abs_err", round(col("abs_err"), 6))
      .orderBy("vec_id")
  }

  // ---- L8: language ID heuristic (fused compiled kernel) ------------------
  def x1LangId(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        TextAnalysis.langId(col("text")).as("pred"),
        col("lang").as("actual"))
      .withColumn("hit", col("pred") === col("actual"))
      .orderBy("doc_id")

  // ---- L9: quality scoring -------------------------------------------------
  def x2Quality(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(Seq(col("doc_id"), col("n_chars")) ++
        TextAnalysis.qualityColumns(col("text")): _*)
      .orderBy("doc_id")

  // ---- L10: token counting -------------------------------------------------
  def x3TokenCount(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        TextAnalysis.wsTokenCount(col("text")).as("ws_tokens"),
        TextAnalysis.bpeishTokenCount(col("text")).as("bpeish_tokens"),
        length(col("text")).as("n_chars_m"))
      .orderBy("doc_id")

  // ---- L11: document fingerprinting ---------------------------------------
  def x4Fingerprint(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fp64"),
        TextAnalysis.minShingleFingerprint(col("text")).as("fp_min_shingle"))
      .orderBy("doc_id")

  // ---- L15: token-window chunking -----------------------------------------
  def x5Chunk(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .withColumn("toks", split(trim(col("text")), "\\s+"))
      .select(col("doc_id"),
        posexplode(TextAnalysis.chunkColumns(col("toks"), 64, 16))
          .as(Seq("chunk_id", "chunk")))
      .select(col("doc_id"), col("chunk_id"),
        size(split(col("chunk"), " ")).as("n_chunk_tokens"),
        md5(col("chunk")).as("chunk_md5"))
      .orderBy("doc_id", "chunk_id")

  /** 10-word segment array with the token array bound ONCE per row
    * (the x44 winnow bind-once device): a plain `words` ATTRIBUTE
    * inside the per-segment lambda gets CollapseProject-inlined as
    * `split(text)` PER ELEMENT — O(tokens²/10) per doc, measured
    * α≈1.6 on the r12 length axis (x17 at len_k10) and visible in the
    * optimized plan as `slice(split(text…))` inside the
    * lambdafunction; the `transform(array(split…), ws -> …)[0]`
    * binding evaluates the split exactly once per row because a
    * lambda VARIABLE can never be inlined. Same segments, same
    * oracles — plan shape only. */
  private def tenWordSegs: Column = expr(
    "transform(array(split(text, ' ')), ws -> " +
      "transform(sequence(0, cast(ceil(size(ws)/10.0) as int) - 1), " +
      "i -> array_join(slice(ws, i*10+1, 10), ' ')))[0]")

  // ---- L38: C4-style corpus line-level dedup ------------------------------
  /** Line-level exact dedup across the corpus (C4's "all but one of any
    * repeated span", Raffel et al. 2020): the synthetic docs are
    * single-line, so "lines" are 10-word segments (the operator is
    * segmentation-agnostic — real corpora pass split(text, '\n')).
    * Planted full-copy docs (ids +10^6) prove the zero-kept edge: a doc
    * whose every line is owned elsewhere keeps nothing. Output: per-doc
    * survival stats + md5 of the reconstructed (kept-lines) text. */
  def x17LineDedup(s: SparkSession, dir: String): DataFrame = {
    val docs = withCopies(t(s, dir, "documents"), perturb = false)
      .withColumn("lines", tenWordSegs)
    Dedup.dedupLines(docs, "doc_id", "lines")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_lines"),
        sum(col("keep").cast("long")).as("n_kept"),
        md5(concat_ws("\n",
          transform(
            array_sort(collect_list(when(col("keep"),
              struct(col("line_no"), col("line"))))),
            x => x.getField("line")))).as("kept_md5"))
      .orderBy("doc_id")
  }

  // ---- L39: Gopher quality rule set ---------------------------------------
  /** The full Gopher repetition-free quality filter (Rae et al. 2021
    * §A1.1) over a deterministically multi-lined corpus: docs are
    * re-lined into 10-word lines, and planted mutations give every rule
    * something to catch (docs %17 → bulleted lines, %19 →
    * ellipsis-terminated lines, %11 → a '#' symbol burst; short docs
    * fail the word-count rule naturally). One map pass, no shuffle. */
  def x18GopherRules(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .withColumn("segs", tenWordSegs)
      .withColumn("segs", when(col("doc_id") % 17 === 0,
        expr("transform(segs, l -> concat('- ', l))")).otherwise(col("segs")))
      .withColumn("segs", when(col("doc_id") % 19 === 0,
        expr("transform(segs, l -> concat(l, '...'))")).otherwise(col("segs")))
      .withColumn("mtext", concat_ws("\n", col("segs")))
      .withColumn("mtext", when(col("doc_id") % 11 === 0,
        concat(col("mtext"), lit(" # # # # # # # # # # # # # # #")))
        .otherwise(col("mtext")))
      .withColumn("aw", split(col("mtext"), "\\s+"))
      .withColumn("lines", split(col("mtext"), "\n"))
      .select(Seq(col("doc_id")) ++
        TextAnalysis.gopherColumns(col("mtext"), col("aw"), col("lines")): _*)
      .orderBy("doc_id")

  // ---- L61: C4 heuristic corpus filters -----------------------------------
  /** The C4 cleaning rules (Raffel et al. 2020 §2.2) — the OTHER
    * canonical web-corpus filter next to x18's Gopher set, line-level
    * where Gopher is ratio-level: keep a line iff it ends in terminal
    * punctuation AND has ≥ 3 words AND doesn't mention javascript;
    * keep the page iff ≥ 3 lines survive AND it contains no curly
    * brace and no "lorem ipsum". Docs are re-lined into 10-word
    * segments; plants give every rule something to catch (length-even
    * segments gain terminal '.', %13 → a curly/javascript line, %23 →
    * a lorem-ipsum line) — all content-derived, no positional lambdas,
    * so the oracle replays them with DuckDB's index-free list
    * functions. One map pass, zero shuffles, zero UDFs. */
  def x26C4Filters(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .withColumn("segs", tenWordSegs)
      .withColumn("segs", expr(
        "transform(segs, l -> IF(length(l) % 2 = 0, concat(l, '.'), l))"))
      .withColumn("segs", when(col("doc_id") % 13 === 0,
        expr("array_append(segs, 'var x = { javascript }')"))
        .otherwise(col("segs")))
      .withColumn("segs", when(col("doc_id") % 23 === 0,
        expr("array_append(segs, 'lorem ipsum dolor sit amet.')"))
        .otherwise(col("segs")))
      .withColumn("kept", expr(
        "filter(segs, l -> (l LIKE '%.' OR l LIKE '%!' OR l LIKE '%?' " +
          "OR l LIKE '%\"') AND size(split(l, ' ')) >= 3 " +
          "AND NOT contains(lower(l), 'javascript'))"))
      .withColumn("mtext", concat_ws("\n", col("segs")))
      .select(col("doc_id"),
        size(col("segs")).cast("long").as("n_lines"),
        size(col("kept")).cast("long").as("n_kept"),
        col("mtext").contains("{").as("has_curly"),
        lower(col("mtext")).contains("lorem ipsum").as("has_lorem"),
        (size(col("kept")) >= 3 && !col("mtext").contains("{") &&
          !lower(col("mtext")).contains("lorem ipsum")).as("doc_keep"),
        md5(concat_ws("\n", col("kept"))).as("kept_md5"))
      .orderBy("doc_id")

  // ---- L71: HTML boilerplate strip -----------------------------------------
  /** HTML → visible-text extraction + link-density boilerplate signal
    * (trafilatura/jusText-lite — the step that runs BEFORE x18/x26's
    * text filters on a real crawl): docs are wrapped in a
    * deterministic doc_id-derived page (head + script, nav/footer link
    * farms, an entity-bearing paragraph, the text body), then
    * [[graft.operators.TextAnalysis.htmlVisible]] drops script blocks,
    * strips tags, decodes the five standard entities (&amp; pinned
    * LAST — single-pass rule) and collapses whitespace; link density =
    * anchor-inner chars / visible chars, ONE IEEE division. Pure
    * codegen'd regexp chain, one map pass, zero shuffles; every
    * pattern Java/RE2-agreeing so DuckDB replays rule for rule. */
  def x27HtmlStrip(s: SparkSession, dir: String): DataFrame = {
    val page = concat(
      lit("<html><head><title>Doc "), col("doc_id"),
      lit("</title><script type=\"text/js\">var x="), col("doc_id"),
      lit(";</script></head><body><nav><a href=\"/home\">Home</a> " +
        "<a href=\"/about\">About page</a></nav>" +
        "<p>Q&amp;A &lt;sample&gt; &quot;quote&quot;</p><p>"),
      col("text"),
      lit("</p><div class=\"footer\"><a href=\"/contact\">Contact us</a>" +
        "</div></body></html>"))
    t(s, dir, "documents")
      .select(col("doc_id"), page.as("html"))
      .select(col("doc_id"),
        TextAnalysis.htmlVisible(col("html")).as("visible"),
        TextAnalysis.tagCount(col("html")).cast("long").as("n_tags"),
        TextAnalysis.linkChars(col("html")).cast("long").as("link_chars"))
      .select(col("doc_id"), md5(col("visible")).as("visible_md5"),
        length(col("visible")).cast("long").as("visible_chars"),
        col("n_tags"), col("link_chars"),
        (col("link_chars").cast("double") /
          length(col("visible")).cast("double")).as("link_density"))
      .orderBy("doc_id")
  }

  // ---- L41: DSIR importance weights ---------------------------------------
  /** DSIR data selection (Xie et al. 2023) with the English slice as
    * the target distribution: hashed unigram+bigram models (256 md5
    * buckets, Laplace-smoothed) for target vs raw, per-doc
    * log-importance weight, `selected` = target-leaning. The en docs
    * themselves score high and zh/de/fr/es score low — a real verdict
    * on this corpus, not a planted one. */
  def x19Dsir(s: SparkSession, dir: String): DataFrame =
    Sampling.dsirWeights(t(s, dir, "documents"), "doc_id", "text",
        col("lang") === "en", buckets = 256)
      .orderBy("doc_id")

  // ---- L42: blocked fuzzy string join --------------------------------------
  /** Entity-resolution fuzzy join: customer names vs a deterministically
    * corrupted copy (1 planted substitution, 2 for even keys) matched at
    * hamming ≤ 2 through the pigeonhole block join — each corruption
    * finds its original, plus the natural near-collisions between
    * serial names. Oracle = ALL-pairs hamming (the block join's recall
    * is provable, so hash-match is a completeness proof, the d2/d9
    * pattern). */
  // ---- L59: general edit-distance join --------------------------------------
  /** d11's promised general-edit-distance sibling
    * ([[graft.operators.Dedup.editDistancePairs]]): supplier names plus
    * a deterministically corrupted copy (last char DELETED for odd
    * keys, '#'→'X' SUBSTITUTED for even) matched at levenshtein ≤ 1
    * through deletion-neighborhood (SymSpell) blocking — insertions,
    * deletions, and substitutions all land, unlike d11's
    * equal-length-only hamming. Oracle = ALL-pairs levenshtein, so a
    * hash match is a 100%-recall proof (the d2/d9/d11 pattern). */
  def d14EditJoin(s: SparkSession, dir: String): DataFrame = {
    val sup = t(s, dir, "supplier")
      .select(col("s_suppkey").as("id"), col("s_name").as("nm"))
    val corrupted = sup.select((col("id") + 1000000).as("id"),
      when(col("id") % 2 === 1, expr("substring(nm, 1, length(nm) - 1)"))
        .otherwise(concat(substring(col("nm"), 1, 8), lit("X"),
          expr("substring(nm, 10, length(nm))"))).as("nm"))
    Dedup.editDistancePairs(sup.union(corrupted), "id", "nm")
      .orderBy("id_a", "id_b")
  }

  def d11FuzzyJoin(s: SparkSession, dir: String): DataFrame = {
    // md5-derived 16-char keys, NOT the serial c_name strings: names
    // sharing a constant prefix would degenerate the prefix block into
    // a cross product (the LSH hot-bucket trap) — blocked similarity
    // joins presuppose discriminative segments, so give the operator
    // what a real entity-resolution corpus has. 'X'/'Y' are outside the
    // hex alphabet → planted distance is exactly 1 (odd keys) / 2
    // (even keys).
    val c = t(s, dir, "customer")
      .withColumn("base", substring(md5(col("c_custkey").cast("string")), 1, 16))
    val a = c.select(col("c_custkey").as("a_id"), col("base").as("a_name"))
    val pert = c
      .withColumn("p1", (lit(1) + col("c_custkey") % 16).cast("int"))
      .withColumn("p2", (lit(1) + (col("c_custkey") + 5) % 16).cast("int"))
      .withColumn("n1", expr(
        "concat(substring(base, 1, p1 - 1), 'X', substring(base, p1 + 1, 100))"))
      .withColumn("n2", when(col("c_custkey") % 2 === 0, expr(
        "concat(substring(n1, 1, p2 - 1), 'Y', substring(n1, p2 + 1, 100))"))
        .otherwise(col("n1")))
      .select((col("c_custkey") + 1000000L).as("b_id"), col("n2").as("b_name"))
    Dedup.fuzzyHammingJoin(a, pert, "a_id", "a_name", "b_id", "b_name")
      .orderBy("a_id", "b_id")
  }

  // ---- L48: containment pairs ----------------------------------------------
  /** Asymmetric containment detection over documents ∪ half-truncated
    * copies: each truncated prefix is contained (C = 1.0) in its
    * original while their Jaccard ≈ 0.5 sits below d4's radar —
    * exactly the quote/truncation case the asymmetric metric exists
    * for. Blocked by source (25 docs/source here; the block contract
    * is the caller's, as in d4). */
  def d12Containment(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val trunc = docs
      .withColumn("words", split(col("text"), " "))
      .select((col("doc_id") + 1000000L).as("doc_id"),
        expr("array_join(slice(words, 1, cast(ceil(size(words)/2.0) as int)), ' ')")
          .as("text"),
        col("lang"), col("source"), col("n_chars"))
    val corpus = docs.select("doc_id", "text", "lang", "source", "n_chars")
      .union(trunc)
    // block = (source, 12-char raw-text prefix): a truncation/quote-
    // prefix detector's natural key — the prefix copy and its original
    // share it by construction, and blocks stay O(copies-of-one-doc)
    // instead of O(source) (500 docs/block at sf0.1 cost ~5 s of
    // merge scans; prefix blocks cut that ~10×)
    Dedup.containmentPairs(corpus, "doc_id", "text",
        blockCols = Seq(col("source"), substring(col("text"), 1, 12)),
        n = 3, threshold = 0.8)
      .withColumn("containment", round(col("containment"), 6))
      .orderBy("contained_id", "container_id")
  }

  // ---- L50: BPE tokenizer training ------------------------------------------
  /** 5-merge BPE fit over the corpus vocabulary
    * ([[graft.operators.BpeTrainer]]): one corpus pass → word counts,
    * then the whole merge loop driver-local over that bounded table
    * ([[graft.operators.BpeTrainer.fitLocal]] — incremental pair
    * index + lazy max-heap, merge-for-merge spec-equal to the
    * distributed job-per-merge fit it replaced in r13, so wall time
    * is flat in nMerges instead of one Spark job per merge). Output =
    * the tokenized vocabulary after round 5; the oracle refits the
    * IDENTICAL procedure in SQL (5 generated CTE rounds), so a hash
    * match proves every argmax and every merge application agreed. */
  def x20BpeTrain(s: SparkSession, dir: String): DataFrame =
    BpeTrainer.fitLocal(t(s, dir, "documents"), "text", nMerges = 5)._1
      .orderBy("word")

  // ---- L56: video frame sampling -------------------------------------------
  /** The video curation pass ([[graft.operators.Multimodal.VideoCodec]]):
    * spec-shaped AVI containers planted from doc_id (avih main header
    * at real offsets, frame body), every 2nd frame kept via real RIFF
    * surgery (dwTotalFrames/movi/RIFF sizes rewritten), then metadata
    * RE-extracted from the transformed bytes — the m2 discipline. One
    * mapPartitions pass, no shuffle; the oracle recomputes the
    * post-sample metadata arithmetically from doc_id. */
  def m3FrameSample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val vids = t(s, dir, "documents").select("doc_id", "text")
      .as[(Long, String)].map { case (id, text) =>
        Multimodal.MediaRow(id, "avi", Multimodal.VideoCodec.buildAvi(
          width = (id % 640).toInt + 1, height = (id % 480).toInt + 1,
          usPerFrame = 33333 + (id % 3).toInt * 8334,
          nFrames = (id % 7).toInt + 2, frameSize = 16,
          fill = text.getBytes("UTF-8")))
      }
    vids.mapPartitions { it =>
      it.map { r =>
        Multimodal.VideoCodec.decodeAvi(
          r.copy(payload = Multimodal.VideoCodec.frameSample(r.payload, 2)))
      }
    }.toDF().orderBy("doc_id")
  }

  // ---- L58: JPEG marker-walk parse -----------------------------------------
  /** Variable-length-container parsing
    * ([[graft.operators.Multimodal.JpegCodec]]): spec-shaped JFIF
    * payloads planted from doc_id (real segment chain — APP0, optional
    * DQT, SOF0, SOS; lengths self-describing), dimensions and segment
    * counts recovered by WALKING the marker chain, never by fixed
    * offset (the PNG/BMP m1 contrast). One map pass, no shuffle; the
    * oracle recomputes every field arithmetically from doc_id. */
  def m4JpegParse(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val jpegs = t(s, dir, "documents").select("doc_id", "text")
      .as[(Long, String)].map { case (id, text) =>
        Multimodal.MediaRow(id, "jpeg", Multimodal.JpegCodec.buildJpeg(
          width = (id % 640).toInt + 1, height = (id % 480).toInt + 1,
          withDqt = id % 2 == 0, body = text.getBytes("UTF-8")))
      }
    jpegs.mapPartitions(it => it.map(Multimodal.JpegCodec.decodeJpeg))
      .toDF().orderBy("doc_id")
  }

  // ---- L68: TIFF/EXIF IFD-walk parsing -------------------------------------
  /** TIFF baseline metadata via the IFD chain walk
    * ([[graft.operators.Multimodal.TiffCodec]]): spec-shaped
    * containers planted from doc_id in BOTH byte orders (II and MM —
    * the endianness dimension m1/m4's containers don't have), entry
    * tables of varying arity, a real next-IFD offset chain (thumbnail
    * IFD1 on most rows) the parser must FOLLOW. One map pass, no
    * shuffle; the oracle recomputes every field arithmetically. */
  def m5TiffParse(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tiffs = t(s, dir, "documents").select("doc_id", "text")
      .as[(Long, String)].map { case (id, text) =>
        Multimodal.MediaRow(id, "tiff", Multimodal.TiffCodec.buildTiff(
          le = id % 2 == 0,
          width = (id % 640).toInt + 1, height = (id % 480).toInt + 1,
          orientation = (id % 8).toInt + 1,
          withBits = id % 3 == 0, withThumb = id % 5 != 0,
          body = text.getBytes("UTF-8")))
      }
    tiffs.mapPartitions(it => it.map(Multimodal.TiffCodec.decodeTiff))
      .toDF().orderBy("doc_id")
  }

  // ---- L70: MP4 nested box-tree parsing ------------------------------------
  /** ISO-BMFF recursive box-tree parse
    * ([[graft.operators.Multimodal.Mp4Codec]]): spec-shaped MP4s
    * planted from doc_id — ftyp + moov{mvhd, trak{tkhd, mdia{mdhd,
    * hdlr}}×(1–2)} + mdat, the NESTED-container dimension (recursive
    * descent, children bounded by their parent's extent, depth cap)
    * that m4's linear marker chain and m5's offset chain don't have.
    * First tkhd wins dimensions; duration_ms = mvhd duration scaled by
    * the movie timescale (exact integer division both engines). One
    * map pass, no shuffle; the oracle recomputes every field
    * arithmetically from doc_id. */
  def m6Mp4Parse(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val vids = t(s, dir, "documents").select("doc_id", "text")
      .as[(Long, String)].map { case (id, text) =>
        Multimodal.MediaRow(id, "mp4", Multimodal.Mp4Codec.buildMp4(
          width = (id % 640).toInt + 1, height = (id % 480).toInt + 1,
          timescale = 1000 * ((id % 5).toInt + 1),
          duration = ((id % 9000).toInt + 1000) * ((id % 5).toInt + 1),
          nTracks = (id % 2).toInt + 1,
          body = text.getBytes("UTF-8")))
      }
    vids.mapPartitions(it => it.map(Multimodal.Mp4Codec.decodeMp4))
      .toDF().orderBy("doc_id")
  }

  // ---- L75: ZIP central-directory (footer-directed) parsing ----------------
  /** ZIP archive parse ([[graft.operators.Multimodal.ZipCodec]]):
    * spec-shaped archives planted from doc_id — 1–3 stored entries,
    * per-entry sizes derived arithmetically — parsed FOOTER-FIRST
    * (backward EOCD scan → central-directory walk → per-entry
    * local-header cross-check at each recorded offset), the
    * parquet-style trailer-index layout none of the forward-walking
    * codecs (m4/m5/m6) exercise. One map pass, no shuffle; oracle
    * recomputes every field arithmetically. */
  def m7ZipParse(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val zips = t(s, dir, "documents").select("doc_id").as[Long]
      .map { id =>
        val n = (id % 3).toInt + 1
        val base = (id % 40).toInt + 10
        val datas = (0 until n).map(i =>
          Array.tabulate[Byte](base + 7 * i)(j => ((id + i + j) % 251).toByte))
        Multimodal.MediaRow(id, "zip", Multimodal.ZipCodec.buildZip(datas))
      }
    zips.mapPartitions(it => it.map(Multimodal.ZipCodec.decodeZip))
      .toDF().orderBy("doc_id")
  }

  // ---- L87: TAR block-sequential parsing -----------------------------------
  /** ustar archive parse ([[graft.operators.Multimodal.TarCodec]]):
    * spec-shaped archives planted from doc_id — 1–4 members with sizes
    * crossing the 512-byte block boundary so the ⌈size/512⌉ seek math
    * is exercised for real — walked BLOCK-SEQUENTIALLY (no index:
    * header → octal size decode → seek past data blocks → next header,
    * two zero blocks terminate), with per-header magic + POSIX
    * checksum verification; the traversal shape none of m4–m7 have.
    * One map pass, no shuffle; oracle recomputes every field
    * arithmetically. */
  def m8TarParse(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tars = t(s, dir, "documents").select("doc_id").as[Long]
      .map { id =>
        val n = (id % 4).toInt + 1
        val sizes = (0 until n).map(i => (id % 1000).toInt + 300 * i + 37)
        Multimodal.MediaRow(id, "tar",
          Multimodal.TarCodec.buildTar(sizes, id))
      }
    tars.mapPartitions(it => it.map(Multimodal.TarCodec.decodeTar))
      .toDF().orderBy("doc_id")
  }

  // ---- L96: GIF sub-block-chain parsing ------------------------------------
  /** GIF87a/89a parse ([[graft.operators.Multimodal.GifCodec]]):
    * spec-shaped images planted from doc_id — version split, global
    * color tables of 4–32 entries, 1–3 frames whose pixel chains cross
    * the 255-byte sub-block split, and an optional comment extension —
    * walked through the LENGTH-PREFIXED SUB-BLOCK CHAINS no other
    * m-codec has (no total length exists anywhere; the reader must
    * follow 1-byte prefixes to each chain's 0x00 terminator, and the
    * trailer must land exactly at end-of-payload). One map pass, no
    * shuffle; oracle recomputes every field arithmetically. */
  def m9GifParse(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val gifs = t(s, dir, "documents").select("doc_id").as[Long]
      .map { id =>
        val nf = (id % 3).toInt + 1
        val frames = (0 until nf).map(f => (id % 200).toInt + 40 * f + 13)
        Multimodal.MediaRow(id, "gif",
          Multimodal.GifCodec.buildGif(id % 2 == 0,
            (id % 320).toInt + 1, (id % 200).toInt + 1, (id % 4).toInt,
            frames, id % 5 < 2, (id % 7).toInt + 1))
      }
    gifs.mapPartitions(it => it.map(Multimodal.GifCodec.decodeGif))
      .toDF().orderBy("doc_id")
  }

  // ---- L103: FLAC bit-packed-field parsing ---------------------------------
  /** FLAC parse ([[graft.operators.Multimodal.FlacCodec]]): spec-shaped
    * audio containers planted from doc_id — sample rates to 48 kHz
    * (20-bit field), 1–8 channels (3-bit), 8–24 bits/sample (5-bit),
    * 36-bit sample totals, optional VORBIS_COMMENT and PADDING blocks,
    * opaque frame tails — walked through the last-block-flag metadata
    * chain and the BIT-PACKED STREAMINFO fields (shift/mask across
    * unaligned byte boundaries) no other m-codec exercises. One map
    * pass, no shuffle; oracle recomputes every field arithmetically. */
  def m10FlacParse(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rows = t(s, dir, "documents").select("doc_id").as[Long]
      .map { id =>
        Multimodal.MediaRow(id, "flac",
          Multimodal.FlacCodec.buildFlac(
            8000 + (id % 40001).toInt, (id % 8).toInt + 1,
            (id % 17).toInt + 8, id % 100000 + 1000,
            if (id % 2 == 0) (id % 20).toInt + 1 else 0,
            id % 3 == 0, (id % 64).toInt, (id % 300).toInt))
      }
    rows.mapPartitions(it => it.map(Multimodal.FlacCodec.decodeFlac))
      .toDF().orderBy("doc_id")
  }

  // ---- L109: PDF classic-xref parsing ---------------------------------------
  /** PDF parse ([[graft.operators.Multimodal.PdfCodec]]): spec-shaped
    * classic-xref files planted from doc_id — 2–6 stream objects with
    * planted /Length values — walked through the TEXT-ENCODED offset
    * machinery no other codec exercises: backward `startxref` keyword
    * scan, fixed-width 20-byte ASCII xref records, per-entry offset
    * dereference + `N 0 obj` header cross-check, /Size-vs-count
    * consistency, `%%EOF` anchor. One map pass, no shuffle; oracle
    * recomputes every offset and byte count arithmetically (digit
    * widths included). */
  def m11PdfXref(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rows = t(s, dir, "documents").select("doc_id").as[Long]
      .map { id =>
        Multimodal.MediaRow(id, "pdf",
          Multimodal.PdfCodec.buildPdf((id % 5).toInt + 2,
            (id % 97).toInt + 10))
      }
    rows.mapPartitions(it => it.map(Multimodal.PdfCodec.decodePdf))
      .toDF().orderBy("doc_id")
  }

  // ---- L55: BPE corpus encode ----------------------------------------------
  /** Encode the corpus with the x20-fitted tokenizer
    * ([[graft.operators.BpeTrainer.encode]]): per-doc word + BPE token
    * counts. Merge application runs once per distinct word (in the
    * fit); the doc pass is a word-keyed join + integer sums. */
  def x23BpeEncode(s: SparkSession, dir: String): DataFrame =
    BpeTrainer.encode(t(s, dir, "documents"), "doc_id", "text", nMerges = 5)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")

  // ---- L16: PII redaction --------------------------------------------------
  def x6Redact(s: SparkSession, dir: String): DataFrame = {
    // the synthetic corpus has no PII; plant deterministic addresses and
    // numbers so the scrubber has something real to remove
    val planted = t(s, dir, "documents").select(col("doc_id"),
      concat(lit("contact user"), col("doc_id"), lit("@example.com or call 555-123-4567 ref 9876543 "),
        col("text")).as("text"))
    planted.select(col("doc_id"),
      TextAnalysis.redact(col("text")).as("clean"))
      .select(col("doc_id"), md5(col("clean")).as("clean_md5"),
        size(split(col("clean"), "<EMAIL>", -1)).minus(1).as("n_emails"),
        size(split(col("clean"), "<PHONE>", -1)).minus(1).as("n_phones"))
      .orderBy("doc_id")
  }

  // ---- L17: deterministic dataset splitting -------------------------------
  def x7Split(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        TextAnalysis.splitBucket(col("doc_id")).as("bucket"),
        TextAnalysis.splitAssign(col("doc_id")).as("split"))
      .orderBy("doc_id")

  // ---- L19: repetition-based quality signals (Gopher rules) ---------------
  def x8Repetition(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.repetitionSignals(t(s, dir, "documents"), "doc_id", "text")
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")

  // ---- L21: benchmark decontamination (13-gram overlap) -------------------
  /** Corpus = documents ∪ perturbed copies of the 20 eval docs; the
    * copies share interior 13-grams with the eval set and must flag. */
  def d7Decontaminate(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val evalSet = docs.filter(col("doc_id") < 20)
    val corpus = docs.select("doc_id", "text").union(
      evalSet.select((col("doc_id") + 1000000L).as("doc_id"),
        concat(col("text"), lit(" zz qq")).as("text")))
    Dedup.decontaminate(corpus, evalSet, "doc_id", "text", w = 13)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")
  }

  // ---- L28: corpus-internal duplicated-span statistics --------------------
  /** Corpus = documents ∪ exact copies of docs <20 ∪ copies of docs
    * 20–39 with a 5-word prefix: exact copies share every 13-gram
    * (shared_frac = 1), prefixed copies share only interior grams
    * (fractional shared_frac on BOTH the copy and its original), and
    * the untouched majority stays at 0. */
  def d8DupSpans(s: SparkSession, dir: String): DataFrame =
    Dedup.dupSpans(d20Corpus(s, dir), "doc_id", "text", w = 13)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")

  /** d8/d20/d21/d23's exact planted corpus: base docs + verbatim
    * copies of docs < 20 + 5-token-prefixed copies of 20–40. Public
    * so [[graft.CertifyDup]] can rebuild the IDENTICAL corpus for the
    * at-scale expansion-equality certificate. */
  def d20Corpus(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    docs.select("doc_id", "text")
      .union(docs.filter(col("doc_id") < 20)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      .union(docs.filter(col("doc_id") >= 20 && col("doc_id") < 40)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          concat(lit("qq ww ee rr tt "), col("text")).as("text")))
  }

  /** d20: TRUE variable-length exact substring dedup (Lee et al. 2022
    * ExactSubstr) on d8's exact planted corpus — full copies of docs
    * < 20 must surface as whole-document spans, the 5-token-prefixed
    * copies of 20–40 as interior spans, and d8's fixed-13-gram shared
    * counts are strictly subsumed (every df>1 gram lies inside some
    * span; spec-asserted in DedupSpec). Sort keys (id_a, id_b, start_a,
    * start_b) are unique: two islands of one pair sharing start_a lie
    * on different diagonals, hence different start_b. */
  def d20ExactSubstrings(s: SparkSession, dir: String): DataFrame =
    Dedup.exactSubstringSpans(d20Corpus(s, dir), "doc_id", "text",
        minLen = 13)
      .orderBy("id_a", "id_b", "start_a", "start_b")

  /** d21: the removal ACTION over d20's span report (Lee et al. 2022
    * rewrites the corpus) — same planted corpus; exact copies must
    * come back EMPTY (their canonical survives untouched), prefixed
    * copies keep exactly their 5 planted prefix tokens, and kept_text
    * crosses the gate verbatim so the compare certifies every
    * surviving token, not just counts. */
  def d21SubstringRemoval(s: SparkSession, dir: String): DataFrame =
    Dedup.removeDuplicateSpans(d20Corpus(s, dir), "doc_id", "text",
        minLen = 13)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")

  /** d22: d20's report with the exactGroups pre-collapse fused in
    * ([[graft.operators.Dedup.exactSubstringSpansGrouped]]) — the
    * 100 TB form when duplicate mass is BIT-IDENTICAL: identical docs
    * collapse to min-id representatives before the gram join and each
    * span row carries its expanded-pair multiplicity arithmetically.
    * Corpus = d20's planted corpus plus a THIRD copy of docs < 10
    * (groups of size 3), so every multiplicity rule — |A|·|B| cross,
    * G + C(G,2) within, C(G,2) mirror and full-doc — is exercised
    * with G ∈ {1, 2, 3}; ExactSubstrSpec proves the expansion equals
    * d20 row-for-row. */
  def d22SubstringsGrouped(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val corpus = d20Corpus(s, dir)
      .union(docs.filter(col("doc_id") < 10)
        .select((col("doc_id") + 3000000L).as("doc_id"), col("text")))
    Dedup.exactSubstringSpansGrouped(corpus, "doc_id", "text", minLen = 13)
      .orderBy("id_a", "id_b", "start_a", "start_b")
  }

  /** d23: d21's corpus rewrite WITHOUT pair enumeration
    * ([[graft.operators.Dedup.removeDuplicateSpansOwned]]) — a window
    * is cut iff it is not its gram's lexicographically-first
    * occurrence, one linear ownership pass where the pair form is
    * quadratic in gram df. Same planted corpus as d21 and the SAME
    * oracle SQL: the DuckDB gate itself certifies the two forms
    * produce identical rewrites. */
  def d23SubstringRemovalOwned(s: SparkSession, dir: String): DataFrame =
    Dedup.removeDuplicateSpansOwned(d20Corpus(s, dir), "doc_id", "text",
        minLen = 13)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")

  /** d24: CROSS-corpus exact-substring spans
    * ([[graft.operators.Dedup.crossSubstringSpans]] — the
    * decontamination REPORT over pre-built positional indexes, S40's
    * streaming kernel as a batch query): pool = the corpus, batch =
    * an arriving eval set (d9's shape: 15 verbatim re-crawls →
    * whole-document spans, 15 five-token-prefixed copies → interior
    * spans at offset 5, 15 word-reversed novels → no 13-gram survives
    * reversal, zero spans), reporting every maximal shared token span
    * ≥ 13 with both offsets. Unlike d7's gram-count decontamination
    * verdict, this is the SPAN-level evidence (which pool doc, where,
    * how long) an eval-leak audit actually reads. The pool index
    * builds once (the leakageIndex discipline); only (gram-hash, id,
    * pos) rows join — text never shuffles. */
  def d24CrossSubstrings(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val nt = trim(regexp_replace(lower(col("text")), "\\s+", " "))
    val rev = array_join(reverse(split(nt, " ")), " ")
    val batch = docs.filter(col("doc_id") < 15)
      .select((col("doc_id") + 5000000L).as("doc_id"), col("text"))
      .union(docs.filter(col("doc_id") >= 15 && col("doc_id") < 30)
        .select((col("doc_id") + 5000000L).as("doc_id"),
          concat(lit("qq ww ee rr tt "), col("text")).as("text")))
      .union(docs.filter(col("doc_id") >= 30 && col("doc_id") < 45)
        .select((col("doc_id") + 5000000L).as("doc_id"), rev.as("text")))
    val poolIdx = Dedup.positionalGrams(
      docs.select("doc_id", "text"), "doc_id", "text", minLen = 13)
    val batchIdx = Dedup.positionalGrams(batch, "doc_id", "text",
      minLen = 13)
    Dedup.crossSubstringSpans(poolIdx, batchIdx, minLen = 13)
      .orderBy("id_a", "id_b", "start_a", "start_b")
  }

  // ---- L29: incremental (continuous-crawl) dedup ---------------------------
  /** Corpus = documents; batch = 15 exact re-crawls (docs 0–14), 15
    * near re-crawls with a 2-token suffix (15–29), 15 novel docs built
    * by reversing word order (30–44: trigrams all differ from the
    * original's), plus second copies of the first 8 reversed docs —
    * in-batch duplicates whose `dup_of` must point at the SMALLER batch
    * id, not a corpus id. */
  def d9IncrementalDedup(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val corpus = docs.select("doc_id", "text")
    val nt = trim(regexp_replace(lower(col("text")), "\\s+", " "))
    val rev = array_join(reverse(split(nt, " ")), " ")
    val batch = docs.filter(col("doc_id") < 15)
      .select((col("doc_id") + 5000000L).as("doc_id"), col("text"))
      .union(docs.filter(col("doc_id") >= 15 && col("doc_id") < 30)
        .select((col("doc_id") + 5000000L).as("doc_id"),
          concat(col("text"), lit(" zz qq")).as("text")))
      .union(docs.filter(col("doc_id") >= 30 && col("doc_id") < 45)
        .select((col("doc_id") + 5000000L).as("doc_id"), rev.as("text")))
      .union(docs.filter(col("doc_id") >= 30 && col("doc_id") < 38)
        .select((col("doc_id") + 6000000L).as("doc_id"), rev.as("text")))
    Dedup.incrementalDedup(corpus, batch, "doc_id", "text",
        w = 3, h = 64, bands = 32, threshold = 0.5)
      .withColumnRenamed("id", "doc_id")
      .withColumn("jaccard", round(col("jaccard"), 6))
      .orderBy("doc_id")
  }

  // ---- L33: semantic dedup (SemDeDup) ---------------------------------------
  /** Corpus = embeddings ∪ exact vector copies of vec_id < 40 (ids
    * +100000): copies land in the SAME cell as their original (identical
    * argmin) with cos = 1; natural random pairs sit far below the 0.95
    * threshold, and the comparison is bit-exact on both engines. */
  def d10SemanticDedup(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val corpus = emb.select(col("vec_id"), col("embedding"))
      .union(emb.filter(col("vec_id") < 40)
        .select((col("vec_id") + 100000L).as("vec_id"), col("embedding")))
    Dedup.semanticDedup(corpus, "vec_id", "embedding",
        nCells = 16, threshold = 0.95)
      .withColumnRenamed("id", "vec_id")
      .withColumn("cos", round(col("cos"), 6))
      .orderBy("vec_id")
  }

  // ---- L34: distributed k-means --------------------------------------------
  /** 3 Lloyd iterations, k = 8, over the 500×64 corpus: final cluster
    * assignment + euclidean distance. Deterministic end to end (md5
    * init, min-cid ties, round-6 centroid resync per iteration), so the
    * oracle replays every iteration and the compare is bit-exact. */
  def e3Kmeans(s: SparkSession, dir: String): DataFrame =
    Clustering.kmeansAssign(t(s, dir, "embeddings"), "vec_id", "embedding",
        k = 8, iters = 3)
      .select(col("id").as("vec_id"), col("cluster").cast("long").as("cluster"),
        col("dist"))
      .orderBy("vec_id")

  // ---- L65: cluster quality — simplified silhouette ------------------------
  /** Per-cluster simplified silhouette over e3's exact k-means fit
    * ([[graft.operators.Clustering.silhouetteSimplified]]) — the
    * cluster-quality read every corpus-structuring pipeline needs
    * before trusting its buckets. O(n·k) map-only read (the exact
    * O(n²) pairwise silhouette is the documented small-data twin);
    * oracle replays the identical Lloyd chain (e3's proven CTEs) plus
    * the rank-1/rank-2 centroid distances and the same decimal-exact
    * cluster means. */
  def e9Silhouette(s: SparkSession, dir: String): DataFrame =
    Clustering.silhouetteSimplified(t(s, dir, "embeddings"),
        "vec_id", "embedding", k = 8, iters = 3)
      .orderBy("cluster")

  // ---- L30: embedding outlier detection ------------------------------------
  /** Cosine of each vector to its own label's (rounded) centroid;
    * `is_outlier` = anti-correlated with the cluster (cos < 0). */
  def e1EmbedOutliers(s: SparkSession, dir: String): DataFrame =
    EmbedStats.centroidOutliers(t(s, dir, "embeddings"),
        "label", "embedding", "vec_id", threshold = 0.0)
      .withColumnRenamed("id", "vec_id")
      .orderBy("vec_id")

  // ---- L31: random-projection dimensionality reduction ---------------------
  /** 64 → 8 dims via seeded JL sign-free Gaussian planes; outputs are
    * exact doubles (literal planes + left-to-right dots reproduce
    * bit-for-bit in the oracle). */
  def e2RandomProjection(s: SparkSession, dir: String): DataFrame = {
    val planes = VectorOps.hyperplanes(8, 64, seed = 7L)
    t(s, dir, "embeddings")
      .select(col("vec_id"), col("label"),
        VectorOps.randomProject(col("embedding"), planes).as("y"))
      .select(col("vec_id") +: col("label") +:
        (1 to 8).map(i => element_at(col("y"), i).as(s"y$i")): _*)
      .orderBy("vec_id")
  }

  // ---- L36: embedding dimension covariance ---------------------------------
  /** Full 64-dim upper-triangular covariance matrix in one aggregation
    * pass (2080 long-form rows); round-6 washes the cross-engine
    * float-summation wobble (the e1 precedent). */
  def e4Covariance(s: SparkSession, dir: String): DataFrame =
    EmbedStats.dimCovariance(t(s, dir, "embeddings"), "embedding", dim = 64)
      .orderBy("dim_i", "dim_j")

  // ---- L99: effective rank (participation ratio) ---------------------------
  /** tr(C)²/tr(C²) over e4's covariance — the eigendecomposition-free
    * capacity-usage scalar ([[EmbedStats.effectiveRank]]): how many
    * dimensions the corpus actually spreads over; read beside e14's
    * top-2 shares and e18's (manifold) intrinsic dimension. */
  def e19EffectiveRank(s: SparkSession, dir: String): DataFrame =
    EmbedStats.effectiveRank(t(s, dir, "embeddings"), "embedding",
      dim = 64)

  // ---- L100: embedding anisotropy (mean pairwise cosine) -------------------
  /** Mean pairwise cosine of the unit-normalized corpus + mean L2 norm
    * ([[EmbedStats.anisotropy]]) — the cosine-calibration scalar read
    * before trusting any similarity threshold; ≈0 isotropic, high =
    * every cosine carries a constant common-direction offset. */
  def e20Anisotropy(s: SparkSession, dir: String): DataFrame =
    EmbedStats.anisotropy(t(s, dir, "embeddings"), "embedding", dim = 64)

  // ---- L45: embedding dimension correlation matrix -------------------------
  /** Pearson correlation of every dimension pair — e4's covariance
    * normalized by the diagonal, SAME single aggregation pass (the
    * variances are index-picked from the one moment array, no extra
    * join or shuffle). The one ÷/√ runs the identical IEEE sequence in
    * the oracle; round-6 washes the residue. */
  def e8CorrMatrix(s: SparkSession, dir: String): DataFrame =
    EmbedStats.dimCorrelation(t(s, dir, "embeddings"), "embedding", dim = 64)
      .orderBy("dim_i", "dim_j")

  // ---- L40: PCA projection (power iteration + deflation) -------------------
  /** Top-2 principal-component projection of the embedding corpus (the
    * whitening/compression pass e4's covariance motivates). The fit is
    * [[EmbedStats.pcaPowerProject]]: exact integer-grid covariance (one
    * wide aggregation), driver-side power iteration (model state), a
    * broadcast literal-vector dot per row. The oracle replays the
    * IDENTICAL IEEE sequence — exact sums, the same 30+30 iterations as
    * generated CTEs over list_inner_product — so p1/p2/λ1/λ2 all
    * hash-match bit-exact. */
  def e5PcaProject(s: SparkSession, dir: String): DataFrame =
    EmbedStats.pcaPowerProject(t(s, dir, "embeddings"),
        Seq("vec_id", "label"), "embedding")
      .orderBy("vec_id")

  // ---- L37: unicode normalization -------------------------------------------
  /** The corpus has no accents; plant a decomposable-accent suffix per
    * doc, then run the full cleanup (NFC → accent strip → lower →
    * whitespace collapse — expressions.TextNormKernel) and emit
    * the md5 of the result: "Café" and "Café" must normalize to
    * the same bytes on both engines. Pure map pass. */
  def x16UnicodeNormalize(s: SparkSession, dir: String): DataFrame = {
    val planted = t(s, dir, "documents").select(col("doc_id"),
      concat(col("text"),
        lit("  CafÉ  ZÜrich   NIÑO façade à ö  ")).as("text"))
    val norm = graft.expressions.Kernels.unicodeNormalize(col("text"))
    planted
      .select(col("doc_id"), norm.as("nt"), length(col("text")).as("n_raw"))
      .select(col("doc_id"), md5(col("nt")).as("norm_md5"),
        col("n_raw"), length(col("nt")).as("n_norm"))
      .orderBy("doc_id")
  }

  // ---- L32: URL/domain census ----------------------------------------------
  /** The synthetic corpus has no URLs; plant two deterministic ones per
    * doc (the x6 pattern), then run the census: distinct domains per
    * doc exploded and counted corpus-wide — the table a blocklist /
    * domain-quota policy consumes. Shuffles only (domain, 1) pairs. */
  def x15UrlDomains(s: SparkSession, dir: String): DataFrame = {
    val planted = t(s, dir, "documents").select(col("doc_id"),
      concat(lit("see https://site"), col("doc_id") % 50,
        lit(".example.com/p/"), col("doc_id"),
        lit(" and http://www.ref"), col("doc_id") % 7,
        lit(".org "), col("text")).as("text"))
    planted
      .select(col("doc_id"),
        explode(TextAnalysis.urlDomains(col("text"))).as("domain"))
      .groupBy("domain")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("domain")
  }

  // ---- L22: per-source quota sampling -------------------------------------
  def x9SourceQuota(s: SparkSession, dir: String): DataFrame =
    Sampling.groupQuota(t(s, dir, "documents"), "source", "doc_id", n = 18)
      .orderBy("source", "rk")

  // ---- L62: sequential Poisson weighted sampling ---------------------------
  /** Deterministic weighted without-replacement sampling
    * ([[Sampling.weightedSample]]): 5 docs per source, weight = text
    * length, rank by ξ = md5-uniform / w — longer docs win
    * proportionally more often. ξ is one IEEE division (no
    * transcendentals), so selection AND the emitted ξ replay
    * bit-exactly in SQL. */
  def x25WeightedSample(s: SparkSession, dir: String): DataFrame =
    Sampling.weightedSample(t(s, dir, "documents"), "source", "doc_id",
        length(col("text")), k = 5)
      .orderBy("source", "doc_id")

  // ---- L23: temperature mixture sampling ----------------------------------
  /** alpha = 0 (flatten sources equal) — the no-float-group-sum path,
    * so the rate chain reproduces exactly in DuckDB; alpha = 0.5/1
    * run Spark-side under SamplingSpec. */
  def x10MixtureSample(s: SparkSession, dir: String): DataFrame =
    Sampling.mixtureSample(t(s, dir, "documents"), "source", "doc_id",
        targetTotal = 250, alpha = 0.0)
      .orderBy("source", "doc_id")

  // ---- L24: BM25 query-side retrieval -------------------------------------
  /** Every matching doc with its full BM25 score and per-term tf —
    * hashing all scores is strictly stronger than checking a top-k cut
    * (and implies the top-k agrees); bm25TopK's deterministic cut is
    * spec-covered. */
  def x11Bm25(s: SparkSession, dir: String): DataFrame =
    Retrieval.bm25(t(s, dir, "documents"), "doc_id", "text", bm25Terms)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")

  private val bm25Terms = Seq("hash", "join", "merge", "sort")

  // ---- L104: nDCG retrieval evaluation --------------------------------------
  /** The graded ranking-quality curve ([[Retrieval.ndcgCurve]],
    * Järvelin & Kekäläinen 2002) over x11's BM25 ranking: relevance
    * judges a SINGLE aspect (rel = min(3, tf_sort)) while the ranker
    * optimizes all four terms — the realistic judge-vs-ranker mismatch
    * that makes the curve non-degenerate (nDCG dips below 0.9 at
    * sf0.01 and the ideal reordering is non-trivial at every SF);
    * exponential gains, DCG/IDCG/nDCG at every cut depth to 20. The
    * eval harness run before shipping any retrieval change (x11/s6). */
  def x41Ndcg(s: SparkSession, dir: String): DataFrame = {
    val scored = Retrieval.bm25(t(s, dir, "documents"), "doc_id", "text",
      bm25Terms)
    val pool = scored.select(col("id"), col("score"),
      least(lit(3), col("tf_sort")).cast("int").as("rel"))
    Retrieval.ndcgCurve(pool, "rel", k = 20).orderBy("rank")
  }

  // ---- L54: mutual-kNN graph ------------------------------------------------
  /** Mutual-kNN edges over the embeddings corpus
    * ([[graft.operators.Similarity.knnGraph]]): spherical sample-
    * quantizer cells (the d10 index — fully SQL-replayable), within-
    * cell candidates, bounded-heap per-node top-5, mutual
    * symmetrization. */
  def e6KnnGraph(s: SparkSession, dir: String): DataFrame =
    Similarity.knnGraph(t(s, dir, "embeddings"), "vec_id", "embedding",
        k = 5, nCells = 16)
      .orderBy("id_a", "id_b")

  // ---- L95: kNN hubness audit ----------------------------------------------
  /** k-occurrence (in-degree) distribution of the directed top-5
    * neighbor lists ([[graft.operators.Similarity.knnHubness]],
    * Radovanović et al. 2010): histogram + pinned mean/sd/skew — the
    * hub-pathology read that says whether e6/s2/s3 neighborhoods can
    * be trusted (positive skew = a few vectors in everyone's lists;
    * in-degree 0 = unreachable antihubs). Shares e6's directed top-k
    * chain; the oracle certifies against the same proven lists. */
  def e17Hubness(s: SparkSession, dir: String): DataFrame =
    Similarity.knnHubness(t(s, dir, "embeddings"), "vec_id", "embedding",
      k = 5, nCells = 16)

  // ---- L98: TwoNN intrinsic dimension --------------------------------------
  /** MLE intrinsic-dimension estimate from 2-NN distance ratios
    * ([[graft.operators.Similarity.twoNnIntrinsicDim]], Facco et al.
    * 2017) over the e6/e17 spherical-cell index — the manifold-width
    * read paired with e17's hubness audit (hub pathology follows from
    * high INTRINSIC dimension, not ambient width). Exclusions (dup
    * twins, under-neighbored points) are counted, never silent; ln μ
    * terms ride the x38 integer-micros grid so d̂ is two pinned IEEE
    * divisions from one exact BIGINT sum. */
  def e18IntrinsicDim(s: SparkSession, dir: String): DataFrame =
    Similarity.twoNnIntrinsicDim(t(s, dir, "embeddings"), "vec_id",
      "embedding", nCells = 16)

  // ---- L53: interpolated bigram LM perplexity ------------------------------
  /** Bigram-model quality scoring past x13's unigram filter
    * ([[graft.operators.TextAnalysis.bigramPerplexity]]); vocab cuts
    * (32 unigram / 64 bigram) sit below the corpus vocabulary so both
    * pruning paths and the OOV floor are exercised in the oracled
    * query. */
  def x22BigramPpl(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.bigramPerplexity(t(s, dir, "documents"), "doc_id", "text",
        uniVocab = 32, biVocab = 64)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")

  // ---- L101: Kneser-Ney bigram perplexity ----------------------------------
  /** The canonical n-gram smoothing
    * ([[graft.operators.TextAnalysis.kneserNeyPerplexity]]):
    * continuation-probability lower order + absolute discount 0.75,
    * trained and scored on the corpus itself (self-perplexity quality
    * ranking beside x13/x22 — KN's distinct-context statistics catch
    * the boilerplate that raw-frequency backoff scores as fluent). */
  def x40KneserNey(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.kneserNeyPerplexity(t(s, dir, "documents"), "doc_id", "text")
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")

  // ---- L52: canonical-URL dedup --------------------------------------------
  /** URLs planted deterministically from doc_id in spelling variants
    * (case, default port, trailing slash, tracking params, param
    * order, fragment) that must collapse under
    * [[graft.operators.Urls.canonicalize]]; 21 canonical keys at any
    * SF so every rule's collapse is exercised. The oracle rebuilds the
    * SAME urls and re-canonicalizes them rule for rule in SQL. */
  def d13UrlDedup(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    val planted = t(s, dir, "documents").select(id,
      concat(
        when(id % 2 === 0, "http").otherwise("HTTP"), lit("://"),
        when(id % 3 === 0, "WWW").otherwise("www"),
        lit(".site"), (id % 7).cast("string"), lit(".com"),
        when(id % 4 === 0, ":80").otherwise(""),
        lit("/page/"), (id % 3).cast("string"),
        when(id % 3 === 0, "/").otherwise(""),
        when(id % 2 === 0,
          concat(lit("?utm_source=feed&id="), (id % 3).cast("string"),
            lit("&b=2")))
          .otherwise(concat(lit("?b=2&id="), (id % 3).cast("string"))),
        when(id % 5 === 0, "#frag").otherwise("")).as("url"))
    Urls.dedupByCanonical(planted, "doc_id", "url")
      .orderBy("canonical_url")
  }

  // ---- L51: vocabulary-pruned TF-IDF --------------------------------------
  /** Every (doc, vocabulary-token) pair with tf, df, and the smooth-idf
    * TF-IDF score ([[graft.operators.Retrieval.tfidf]]) — hashing all
    * scores implies any top-k cut agrees. vocabSize 64 is well below
    * the corpus vocabulary so the pruning cut is exercised. */
  def x21Tfidf(s: SparkSession, dir: String): DataFrame =
    Retrieval.tfidf(t(s, dir, "documents"), "doc_id", "text", vocabSize = 64)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id", "tok")

  // ---- L25: sequence packing ----------------------------------------------
  def x12Pack(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("source"),
      size(TextAnalysis.tokens(col("text"))).as("n_tok"))
    Packing.packGreedy(docs, "doc_id", "source", "n_tok", capacity = 256)
      .select(col("grp").as("source"), col("id").as("doc_id"),
        col("n_tok"), col("bin_id"), col("bin_pos"), col("oversize"))
      .orderBy("source", "doc_id")
  }

  // ---- L26: unigram LM perplexity (CCNet-style quality filter) ------------
  /** vocabSize below the corpus vocabulary so the OOV floor path is
    * exercised in the oracled query, not just the spec. */
  def x13UnigramPpl(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.unigramPerplexity(t(s, dir, "documents"), "doc_id", "text",
        vocabSize = 32)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")

  // ---- L106: CCNet perplexity bucketing -------------------------------------
  /** CCNet's head/middle/tail corpus split (Wenzek et al. 2020) — the
    * OUTPUT stage of the CCNet pipeline whose scoring stage is x13:
    * per language, documents rank by LM perplexity ascending and cut
    * into RANK terciles (head = cleanest third, the slice that
    * actually ships as training data; tail = the noise slice). Rank
    * terciles (rk·3 ≤ n / ≤ 2n — pure integer comparisons, no float
    * percentile) are the standard reimplementation; production CCNet's
    * fixed held-out cutoffs are the documented 100 TB swap (a tiny
    * broadcast artifact replacing the per-lang rank window, which at
    * corpus scale is a per-lang global sort). Ties break by doc_id —
    * fully deterministic on both engines. */
  def x42CcnetBuckets(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ppl = TextAnalysis.unigramPerplexity(
        t(s, dir, "documents"), "doc_id", "text", vocabSize = 32)
      .select(col("id").as("doc_id"), col("ln_ppl"))
    val docs = t(s, dir, "documents").select(col("doc_id"), col("lang"))
    // rank on the EMITTED 6-dp ln_ppl (pinned cross-engine), doc_id
    // tiebreak — ln is monotone, so the terciles are CCNet's
    val w = Window.partitionBy("lang").orderBy(col("ln_ppl"), col("doc_id"))
    docs.join(ppl, Seq("doc_id"))
      .withColumn("rk", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("lang")))
      .select(col("doc_id"), col("lang"), col("ln_ppl"), col("rk"),
        when(col("rk") * 3 <= col("n"), "head")
          .when(col("rk") * 3 <= col("n") * 2, "middle")
          .otherwise("tail").as("bucket"))
      .orderBy("doc_id")
  }

  // ---- L108: Flesch/Kincaid readability -------------------------------------
  /** The classic readability pair ([[TextAnalysis.readability]]):
    * reading ease + grade level from exact word/sentence/syllable
    * counts — the sentence- and syllable-structure quality axis the
    * other text scores don't touch. Map-only, within-row HOF folds. */
  def x43Readability(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.readability(t(s, dir, "documents"), "doc_id", "text")
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")

  // ---- L110: winnowing fingerprints -----------------------------------------
  /** MOSS-style local fingerprints ([[TextAnalysis.winnow]]): the
    * partial-overlap detection primitive x4's whole-doc prints can't
    * give — any shared w+k−1-token run is guaranteed a common
    * selected fingerprint. Output = the selected (pos, hash) set per
    * doc; within-row HOF selection, output-sized explode only. */
  def x44Winnowing(s: SparkSession, dir: String): DataFrame = Settle.scope("x44_winnowing") { st =>
    // LOCAL scan fan-out (r14): the per-row HOF selection (md5 per
    // gram × window mins) is the whole cost and the single-row-group
    // input scans as ONE task — probe showed taskTime ≈ exec wall,
    // i.e. serial. One narrow repartition buys full-width execution
    // for the map pass; single consumer, so the r13 global-fanout
    // hazard (re-execution through the exchange) can't bite. Width is
    // scale-adaptive (defaultParallelism = the session's cores).
    // The (output-sized) fingerprint set settles before the final
    // sort: the orderBy's range sampling otherwise re-evaluates the
    // whole HOF selection a second time.
    st.settle(TextAnalysis.winnow(t(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism),
      "doc_id", "text")
      .withColumnRenamed("id", "doc_id"), "fingerprints")
      .orderBy("doc_id", "pos")
  }

  // ---- L111: RAKE keyword extraction ---------------------------------------
  /** RAKE keywords per doc ([[TextAnalysis.rake]]): top-3 candidate
    * phrases by deg/freq co-occurrence score — the keyword/topic
    * surface the corpus-statistics x-ops don't give. Word scores
    * stage through 9-dp DECIMAL so phrase sums are exact. */
  def x45Rake(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.rake(t(s, dir, "documents"), "doc_id", "text")
      .select(col("doc_id"), col("rank"), col("phrase"),
        // gate boundary: exact 1e-9 units as BIGINT (the integer-cents
        // device) — DECIMAL never crosses the compare
        (col("score") * lit(1000000000L)).cast("long").as("score_e9"),
        col("n_occur"))
      .orderBy("doc_id", "rank")

  // ---- L118: hashed linear quality classifier -------------------------------
  /** FastText-style hashed unigram+bigram linear scorer
    * ([[graft.operators.HashClassifier]]) — the quality-filter shape
    * CCNet/fastText pipelines run, with a deterministic integer weight
    * table so every step is exact and SQL-replayable. One pure map
    * pass: feature hashing and the weight fold live inside the row's
    * HOF lambda; `score_norm` is one IEEE division of exact ints. */
  def x46HashClassifier(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.HashClassifier
    t(s, dir, "documents")
      .select(col("doc_id"),
        split(Dedup.normText(col("text")), " ").as("toks"))
      .select(col("doc_id"),
        (size(col("toks")).cast("long") * 2L - 1L).as("n_feats"),
        HashClassifier.scoreRaw(col("toks")).as("score_raw"))
      .withColumn("score_norm",
        col("score_raw").cast("double") /
          (col("n_feats").cast("double") * lit(HashClassifier.WShift.toDouble)))
      .withColumn("keep", col("score_raw") > 0L)
      .orderBy("doc_id")
  }

  // ---- L57: corpus-slice distribution drift --------------------------------
  /** Token-distribution drift, en slice vs the rest
    * ([[TextAnalysis.tokenDrift]]): per-token directed KL
    * contributions under shared-vocabulary Laplace smoothing — the
    * corpus-shift monitor (and slice-form of DSIR's target-vs-raw
    * ratio). One conditional-sum aggregation over the token explode;
    * all drift math on the vocabulary-sized table. */
  def x24KlDrift(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.tokenDrift(t(s, dir, "documents"), "text",
        col("lang") === "en")
      .orderBy("tok")

  // ---- L27: Misra-Gries heavy hitters -------------------------------------
  /** Corpus-wide top tokens via the mergeable k-counter summary.
    * Capacity 4096 >> corpus vocabulary, so counts are exact and the
    * GROUP BY oracle applies; the sub-capacity error bound is
    * spec-asserted adversarially (FreqItemsSpec). */
  def x14HeavyHitters(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge
    val tok = t(s, dir, "documents")
      .select(explode(TextAnalysis.tokens(col("text"))).as("tok"))
    val hh = ColumnBridge.column(
      graft.expressions.FreqItemsAgg(ColumnBridge.expression(col("tok")),
        k = 4096, outN = 20).toAggregateExpression())
    tok.agg(hh.as("hh"))
      .select(explode(col("hh")).as("e"))
      .select(col("e.item").as("item"), col("e.cnt").as("cnt"))
      .orderBy(col("cnt").desc, col("item"))
  }

  // ---- L12: multimodal binary plumbing (real header parsing) --------------
  def m1Multimodal(s: SparkSession, dir: String): DataFrame = {
    val media = Multimodal.asMediaTable(t(s, dir, "documents"))
    Multimodal.extractFeatures(s, media).toDF()
      .groupBy("fmt")
      .agg(count(lit(1)).as("n"), sum(col("n_bytes")).as("total_bytes"),
        min("width").as("min_w"), max("height").as("max_h"),
        max("sample_rate").as("max_sr"))
      .orderBy("fmt")
  }

  // ---- L35: multimodal transform pass (clip + thumbnail) -------------------
  /** The media curation pass: clip every WAV to ≤500 samples/channel
    * (real RIFF byte surgery) and thumbnail every image to 64×48
    * (header-field rewrite; pixel resample is the documented codec
    * drop-in), then RE-extract features from the transformed bytes —
    * the output metadata is read back from the payloads, not assumed.
    * One mapPartitions pass, no shuffle; oracle recomputes the
    * expected post-transform metadata arithmetically. */
  def m2MediaTransform(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = Multimodal.asMediaTable(t(s, dir, "documents"))
    val transformed = media.mapPartitions { it =>
      it.map(r => r.copy(payload = Multimodal.resizeHeaderStub(
        Multimodal.clipWav(r.payload, maxSamples = 500), 64, 48)))
    }
    Multimodal.extractFeatures(s, transformed).toDF()
      .select(col("doc_id"), col("fmt"), col("n_bytes"), col("width"),
        col("height"), col("sample_rate"), col("channels"))
      .orderBy("doc_id")
  }

  // ---- P1: end-to-end curation pipeline ------------------------------------
  /** The flagship composition: documents ∪ exact copies, curated with
    * dedup + decontamination (eval = docs < 20) + quality + length.
    * Copies drop as dups; originals 0–19 drop as contaminated; the
    * rest split on quality/length — every signal's arithmetic is the
    * already-oracled x2/d1/d7 form, so the composed verdict replays
    * exactly. */
  def p1Curate(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    Curation.curate(withCopies(docs, perturb = false),
        docs.filter(col("doc_id") < 20), "doc_id", "text")
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")
  }

  // ---- P6: curation attrition funnel ---------------------------------------
  /** The attrition table every pretraining data run reports — "how
    * many documents did each gate eat": p1's staged verdicts (exact
    * dup → contamination → quality → length, the pinned precedence)
    * extended with an English-only language gate (x1's fused langId,
    * the C4/CCNet posture) as stage 5, then folded into per-stage
    * (n_in, n_drop, n_out) with n_in(k) = n_out(k−1) by construction.
    * Every stage's arithmetic is the already-oracled d1/d7/x2/x1
    * form, so the funnel certifies the COMPOSITION; the counts are
    * all exact integers. The stage fold runs on the 5-row stage table
    * (a tiny-table global window — bounded by construction); the
    * corpus is read by p1's one verdict pass plus one langId map. */
  def p6CurationFunnel(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = t(s, dir, "documents")
    val corpus = withCopies(docs, perturb = false)
    val v = Curation.curate(corpus, docs.filter(col("doc_id") < 20),
      "doc_id", "text")
    val lang = corpus.select(col("doc_id").cast("long").as("id"),
      TextAnalysis.langId(col("text")).as("pred"))
    val staged = v.join(lang, Seq("id")).select(col("id"),
      when(col("drop_reason") === "dup", 1)
        .when(col("drop_reason") === "contaminated", 2)
        .when(col("drop_reason") === "low_quality", 3)
        .when(col("drop_reason") === "length", 4)
        .when(col("pred") =!= "en", 5)
        .otherwise(99).as("fs"))
    val drops = staged.filter(col("fs") <= 5)
      .groupBy("fs").agg(count(lit(1)).as("n"))
    val stages = Seq((1, "exact_dup"), (2, "contaminated"),
      (3, "low_quality"), (4, "length"), (5, "non_english"))
      .toDF("stage", "stage_name")
    val tot = staged.agg(count(lit(1)).as("t"))
    val wCum = org.apache.spark.sql.expressions.Window.orderBy("stage")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    stages.join(drops.withColumnRenamed("fs", "stage"), Seq("stage"), "left")
      .na.fill(0L, Seq("n"))
      .crossJoin(tot)
      .withColumn("cumb", coalesce(sum("n").over(wCum), lit(0L)))
      .select(col("stage"), col("stage_name"),
        (col("t") - col("cumb")).as("n_in"), col("n").as("n_drop"),
        (col("t") - col("cumb") - col("n")).as("n_out"))
      .orderBy("stage")
  }

  // ---- P7: leakage-free held-out split --------------------------------------
  /** Train/held-out split with a NEAR-DUP QUARANTINE between the
    * sides — the train-test-leakage guard every eval pipeline needs
    * (a held-out doc whose near-copy stays in train silently inflates
    * eval scores; decontamination (d7) guards against EXTERNAL
    * benchmarks, this guards the corpus's own split boundary).
    * Composition of proven parts: x29's Hamilton largest-remainder
    * allocation (here at k = N div 10, a 10% hold-out, all-integer
    * arithmetic) picks the test prefix per (lang, source) stratum in
    * md5 order; d2's banded MinHash pairs (w=3, h=64, 32×2 bands,
    * τ=0.5 — the band config whose 100%-recall-vs-brute-force claim
    * d2's own oracle certifies) supply the near-dup relation; any
    * train doc paired across the boundary with a test doc is
    * quarantined (dropped from train, NOT promoted to test — promotion
    * would re-couple the sides). Per-stratum report: n_docs, n_test,
    * n_train, n_quarantined, n_kept, md5 fingerprint of the sorted
    * quarantined ids. Scale shape: allocation runs on the
    * strata-cardinality table (tiny window, bounded by construction);
    * the corpus sees one (lang, source) window shuffle + d2's
    * band-key shuffle — signatures travel, text does not; the
    * boundary check is an equi-join of the pair list against the
    * test-id set. */
  def p7LeakageFreeSplit(s: SparkSession, dir: String): DataFrame = Settle.scope("p7_leakage_free_split") { st =>
    import org.apache.spark.sql.expressions.Window
    // NOT persisted: measured (r13 probe) — caching the perturbed
    // corpus costs more than the three consumers' re-scans (parquet
    // re-reads keep per-consumer column pruning; the cache carries the
    // full text column into every scan): 3.6 s -> 4.2 s warm at sf0.1
    val corpus = withCopies(t(s, dir, "documents"), perturb = true)
      .select("doc_id", "text", "lang", "source")
    val strata = corpus.groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"))
    val tot = strata.agg(sum("n_docs").as("nn"))
      .withColumn("k", expr("nn div 10"))
    val al = strata.crossJoin(broadcast(tot))
      .withColumn("base", expr("(n_docs * k) div nn"))
      .withColumn("rem", expr("(n_docs * k) % nn"))
      .withColumn("rk", row_number().over(
        Window.orderBy(col("rem").desc, col("lang"), col("source"))))
    val lo = al.agg((max("k") - sum("base")).as("lo"))
    // alloc (strata-cardinality) and sides (corpus-cardinality but
    // NARROW — no text) settle eagerly (r14, guide §2.5): each has two
    // consumers, and unsettled the strata window ran twice and the
    // per-strata md5 sort over the corpus ran twice. This is NOT the
    // rejected r13 corpus persist — the text column never caches.
    val alloc = st.settle(al.crossJoin(broadcast(lo))
      .withColumn("allocated", least(col("n_docs"),
        col("base") + when(col("rk") <= col("lo"), 1L).otherwise(0L)))
      .select("lang", "source", "n_docs", "allocated"), "alloc")
    val sides = st.settle(corpus
      .withColumn("rn", row_number().over(
        Window.partitionBy("lang", "source")
          .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))))
      .join(broadcast(alloc.select("lang", "source", "allocated")),
        Seq("lang", "source"))
      .select(col("doc_id"), col("lang"), col("source"),
        (col("rn") <= col("allocated")).as("is_test")), "sides")
    val pairs = Dedup.minhashPairs(corpus, "doc_id", "text",
      w = 3, h = 64, bands = 32, threshold = 0.5)
    val testIds = sides.filter(col("is_test"))
      .select(col("doc_id").as("tid"))
    val touched = pairs.select(col("id_a").as("tid"), col("id_b").as("oid"))
      .union(pairs.select(col("id_b").as("tid"), col("id_a").as("oid")))
      .join(testIds, Seq("tid"))
      .select(col("oid").as("doc_id")).distinct()
    val quarantined = touched.join(
      sides.filter(!col("is_test")).select("doc_id", "lang", "source"),
      Seq("doc_id"))
    val qAgg = quarantined.groupBy("lang", "source")
      .agg(count(lit(1)).as("n_quarantined"),
        md5(concat_ws(",", transform(array_sort(collect_list(col("doc_id"))),
          v => v.cast("string")))).as("quarantine_md5"))
    alloc.join(qAgg, Seq("lang", "source"), "left")
      .select(col("lang"), col("source"), col("n_docs"),
        col("allocated").as("n_test"),
        (col("n_docs") - col("allocated")).as("n_train"),
        coalesce(col("n_quarantined"), lit(0L)).as("n_quarantined"),
        (col("n_docs") - col("allocated") -
          coalesce(col("n_quarantined"), lit(0L))).as("n_kept"),
        coalesce(col("quarantine_md5"), md5(lit(""))).as("quarantine_md5"))
      .orderBy("lang", "source")
  }

  // ---- P2: incremental curation (batch vs stored digest index) -------------
  /** The continuous-crawl form of p1: the corpus contributes only its
    * precomputed digest index; every copy must verdict exactly as it
    * does in the full p1 run (the oracle IS p1's, filtered to batch
    * ids) while the corpus is never re-curated. */
  def p2CurateIncremental(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val batch = docs.select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    Curation.curateIncremental(batch,
        Curation.digests(docs, "doc_id", "text"),
        docs.filter(col("doc_id") < 20), "doc_id", "text")
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")
  }

  // ---- P3: build a training shard (curate → quota → pack) ------------------
  /** The end-to-end shard builder — the composition a pretraining data
    * job actually ships: p1's full curation verdicts (dedup +
    * decontamination + quality + length) → per-source quota (12 kept
    * docs per source, the x9 md5-order operator) → greedy sequence
    * packing into 512-token bins (the x12 operator) → per-bin shard
    * manifest (doc count, fill, waste, md5 of the doc-id order). Every
    * stage is the already-proven operator; the oracle composes their
    * proven replays, so a hash match certifies the whole pipeline
    * end to end. Scale shape: verdicts and quota are the proven
    * shapes; packing state is one (fill, bin) pair per source; the
    * manifest aggregate touches only selected rows. */
  def p3BuildShard(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val corpus = withCopies(docs, perturb = false)
    val kept = Curation.curate(corpus, docs.filter(col("doc_id") < 20),
        "doc_id", "text")
      .withColumnRenamed("id", "doc_id")
      .filter(col("keep"))
      .select(col("doc_id"), col("n_tokens").cast("int").as("n_tok"))
    val base = kept.join(corpus.select("doc_id", "source"), Seq("doc_id"))
    val sel = base.join(
      Sampling.groupQuota(base, "source", "doc_id", n = 12)
        .select("doc_id"),
      Seq("doc_id"), "left_semi")
    Packing.packGreedy(sel, "doc_id", "source", "n_tok", capacity = 512)
      .groupBy(col("grp").as("source"), col("bin_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("fill"),
        md5(array_join(transform(
          array_sort(collect_list(struct(col("bin_pos"), col("id")))),
          x => x.getField("id").cast("string")), ",")).as("ids_md5"))
      .withColumn("waste", greatest(lit(512L) - col("fill"), lit(0L)))
      .select("source", "bin_id", "n_docs", "fill", "waste", "ids_md5")
      .orderBy("source", "bin_id")
  }

  // ---- L82: Heaps'-law vocabulary growth -----------------------------------
  /** Vocabulary growth across the corpus in arrival order — is the
    * crawl still discovering new tokens, or saturated? 20 equal-width
    * doc-id buckets; exact integer counts throughout (see
    * [[TextAnalysis.vocabGrowth]] for the first-occurrence trick that
    * avoids per-prefix distinct passes). */
  def x33VocabGrowth(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.vocabGrowth(t(s, dir, "documents"), "text", "doc_id", 20)
      .orderBy("bucket")

  // ---- L83: embedding diversity moments ------------------------------------
  /** Mean pairwise squared distance per label slice and overall — the
    * mode-collapse / duplication read over the embedded corpus,
    * computed EXACTLY from first moments (no pairwise pass; see
    * [[EmbedStats.diversityByLabel]]). */
  def e13Diversity(s: SparkSession, dir: String): DataFrame =
    EmbedStats.diversityByLabel(t(s, dir, "embeddings"), "label",
        "embedding", dim = 64)
      .orderBy("label")

  // ---- L84: PCA explained variance -----------------------------------------
  /** The "was the projection worth it" spectrum read over e5's fit:
    * λ1/λ2 shares against the covariance trace — zero extra passes
    * (the trace is a byproduct of the same single moment aggregation;
    * see [[EmbedStats.pcaExplainedVariance]]). */
  def e14PcaVariance(s: SparkSession, dir: String): DataFrame =
    EmbedStats.pcaExplainedVariance(t(s, dir, "embeddings"), "embedding")
      .orderBy("component")

  // ---- L85: per-source n-gram novelty --------------------------------------
  /** What does each source ADD? Per source: distinct word-3-gram count,
    * the grams appearing in NO other source, and their ratio — the
    * source-value read behind dedup/mixture decisions (a source whose
    * novelty collapses is re-crawl of the others; d-family dedup asks
    * "which DOCS repeat", this asks "which SOURCES contribute").
    *
    * Scale shape: gram hashes shuffle, text never does — grams ride as
    * the proven 64-bit [[Dedup.shingleHashes]] (one compiled pass,
    * sorted distinct per doc), then every stage is gram-keyed:
    * (source, gram) distinct, gram-count aggregate, gram-keyed join
    * back. The oracle recomputes from RAW STRING grams — so the hash
    * match also certifies the hashed pipeline loses nothing (the
    * d2/d15 modulo-md5-collisions precedent). */
  def x34SourceNovelty(s: SparkSession, dir: String): DataFrame = {
    val grams = t(s, dir, "documents")
      .select(col("source"),
        explode(Dedup.shingleHashes(col("text"), 3)).as("g"))
      .distinct()
    val gstats = grams.groupBy("g")
      .agg(count(lit(1)).as("n_src"))
    grams.join(gstats, Seq("g"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_grams"),
        count(when(col("n_src") === 1, 1)).as("n_unique"))
      .select(col("source"), col("n_grams"), col("n_unique"),
        round(col("n_unique") / col("n_grams"), 6).as("novelty"))
      .orderBy("source")
  }

  // ---- L86: Good-Turing unseen-mass estimate -------------------------------
  /** Frequency-of-frequencies N_r for r ≤ 10 with mass shares and
    * Good-Turing adjusted counts; row r=1's mass share = estimated
    * unseen-token probability (see [[TextAnalysis.goodTuring]]). */
  def x35GoodTuring(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.goodTuring(t(s, dir, "documents"), "text", maxR = 10)

  // ---- L88: content-defined chunking dedup ---------------------------------
  /** CDC chunk-level dedup over the suffix-perturbed copy corpus — the
    * rsync/FastCDC boundary idea: because boundaries are a function of
    * content, a suffix edit re-chunks only its own neighborhood and
    * every untouched chunk still dedups (see
    * [[Dedup.cdcChunkStats]]; fixed-width chunking loses all
    * alignment after one insertion). */
  def d17CdcChunks(s: SparkSession, dir: String): DataFrame =
    Dedup.cdcChunkStats(withCopies(t(s, dir, "documents"), perturb = true),
        "doc_id", "text")
      .orderBy("doc_id")

  // ---- L97: Bloom-filter dedup audit ---------------------------------------
  /** [[Dedup.bloomDedupAudit]] over the exact-copy corpus (8192 bits,
    * 3 hashes): per-source false-positive accounting for a
    * memory-BOUNDED bloom-gated incremental dedup — the fixed-budget
    * alternative to d9's growing digest index, sized BEFORE trusting
    * it at scale. Sequential filter semantics recovered order-free via
    * the min-setter identity; flagged ⊇ true-dup structurally (exact
    * copies share all k positions). */
  def d18BloomDedup(s: SparkSession, dir: String): DataFrame =
    Dedup.bloomDedupAudit(withCopies(t(s, dir, "documents"),
        perturb = false),
      "doc_id", "text", "source", mBits = 8192, kHash = 3)

  // ---- L89: embedding drift between corpus halves --------------------------
  /** x24's vector-space sibling: per label, squared L2 and cosine
    * between the even-id and odd-id slice MEAN vectors (see
    * [[EmbedStats.embedDrift]]) — the embedding-distribution-moved
    * monitor between crawl snapshots. */
  def e15EmbedDrift(s: SparkSession, dir: String): DataFrame =
    EmbedStats.embedDrift(t(s, dir, "embeddings"), "label", "embedding",
        col("vec_id") % 2 === 0)
      .orderBy("label")

  // ---- L90: tokenizer fertility per source ---------------------------------
  /** BPE tokens per word and chars per token, per source — the
    * tokenizer-budget read (a source whose fertility is high eats
    * context window; one whose chars/token collapsed is boilerplate):
    * x23's proven per-doc encode rolled up per source with exact
    * integer sums and two terminal divisions. The vocab fit runs once
    * per distinct word (x20's model-state posture); the doc pass is a
    * word-keyed join + integer sums, so the rollup adds ONE tiny
    * source-key aggregate over per-doc rows. */
  def x36TokenizerFertility(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val enc = BpeTrainer.encode(docs, "doc_id", "text", nMerges = 5)
      .withColumnRenamed("id", "doc_id")
    docs.select(col("doc_id"), col("source"), col("n_chars"))
      .join(enc, Seq("doc_id"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_words").as("n_words"),
        sum("n_bpe_tokens").as("n_tokens"),
        sum("n_chars").as("n_chars"))
      .select(col("source"), col("n_docs"), col("n_words"),
        col("n_tokens"), col("n_chars"),
        round(col("n_tokens") / col("n_words"), 6).as("fertility"),
        round(col("n_chars") / col("n_tokens"), 6).as("chars_per_token"))
      .orderBy("source")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x36_tokenizer_fertility" -> x36TokenizerFertility _,
    "e15_embed_drift" -> e15EmbedDrift _,
    "d17_cdc_chunks" -> d17CdcChunks _,
    "d18_bloom_dedup" -> d18BloomDedup _,
    "x35_good_turing" -> x35GoodTuring _,
    "m8_tar_parse" -> m8TarParse _,
    "m9_gif_parse" -> m9GifParse _,
    "m10_flac_parse" -> m10FlacParse _,
    "m11_pdf_xref" -> m11PdfXref _,
    "x34_source_novelty" -> x34SourceNovelty _,
    "e14_pca_variance" -> e14PcaVariance _,
    "x33_vocab_growth" -> x33VocabGrowth _,
    "e13_diversity" -> e13Diversity _,
    "p1_curate" -> p1Curate _,
    "p6_curation_funnel" -> p6CurationFunnel _,
    "p7_leakage_free_split" -> p7LeakageFreeSplit _,
    "p2_curate_incremental" -> p2CurateIncremental _,
    "p3_build_shard" -> p3BuildShard _,
    "p5_mixing_plan" -> p5MixingPlan _,
    "x37_entropy" -> x37Entropy _,
    "e16_kcenter_coreset" -> e16KcenterCoreset _,
    "x38_zipf" -> x38Zipf _,
    "x39_mattr" -> x39Mattr _,
    "e17_hubness" -> e17Hubness _,
    "e18_intrinsic_dim" -> e18IntrinsicDim _,
    "e19_effective_rank" -> e19EffectiveRank _,
    "e20_anisotropy" -> e20Anisotropy _,
    "d1_exact_dedup" -> d1ExactDedup _,
    "d2_minhash_lsh" -> d2MinhashLsh _,
    "d3_simhash" -> d3Simhash _,
    "d4_ngram_jaccard" -> d4NgramJaccard _,
    "d15_kmv_calibration" -> d15KmvCalibration _,
    "d16_lsh_band_sweep" -> d16LshBandSweep _,
    "e11_matryoshka_sweep" -> e11MatryoshkaSweep _,
    "x28_count_min" -> x28CountMin _,
    "e12_kmeans_ari" -> e12KmeansAri _,
    "x29_stratified_split" -> x29StratifiedSplit _,
    "x30_filter_tradeoff" -> x30FilterTradeoff _,
    "p4_corpus_datasheet" -> p4CorpusDatasheet _,
    "x31_lang_consistency" -> x31LangConsistency _,
    "x32_source_drift_matrix" -> x32SourceDriftMatrix _,
    "d5_embed_dup" -> d5EmbedDup _,
    "d6_dup_clusters" -> d6DupClusters _,
    "d19_quality_survivor" -> d19QualitySurvivor _,
    "s1_ann_brute" -> s1AnnBrute _,
    "s2_ann_lsh" -> s2AnnLsh _,
    "e7_ann_recall" -> e7AnnRecall _,
    "e10_ivf_recall_sweep" -> e10IvfRecallSweep _,
    "s3_ann_ivf" -> s3AnnIvf _,
    "s4_quant_cosine" -> s4QuantCosine _,
    "s5_ann_pq" -> s5AnnPq _,
    "s7_graph_ann" -> s7GraphAnn _,
    "e21_graph_recall_sweep" -> e21GraphRecallSweep _,
    "x1_lang_id" -> x1LangId _,
    "x2_quality" -> x2Quality _,
    "x3_token_count" -> x3TokenCount _,
    "x4_fingerprint" -> x4Fingerprint _,
    "x5_chunk" -> x5Chunk _,
    "x6_redact" -> x6Redact _,
    "x7_split" -> x7Split _,
    "x8_repetition" -> x8Repetition _,
    "d7_decontaminate" -> d7Decontaminate _,
    "d8_dup_spans" -> d8DupSpans _,
    "d20_exact_substrings" -> d20ExactSubstrings _,
    "d21_substring_removal" -> d21SubstringRemoval _,
    "d22_substrings_grouped" -> d22SubstringsGrouped _,
    "d23_substring_removal_owned" -> d23SubstringRemovalOwned _,
    "d24_cross_substrings" -> d24CrossSubstrings _,
    "d9_incremental_dedup" -> d9IncrementalDedup _,
    "e1_embed_outliers" -> e1EmbedOutliers _,
    "e2_random_projection" -> e2RandomProjection _,
    "x15_url_domains" -> x15UrlDomains _,
    "x16_unicode_normalize" -> x16UnicodeNormalize _,
    "x17_line_dedup" -> x17LineDedup _,
    "x18_gopher_rules" -> x18GopherRules _,
    "x27_html_strip" -> x27HtmlStrip _,
    "x26_c4_filters" -> x26C4Filters _,
    "s6_hybrid_rrf" -> s6HybridRrf _,
    "e5_pca_project" -> e5PcaProject _,
    "x19_dsir" -> x19Dsir _,
    "d11_fuzzy_join" -> d11FuzzyJoin _,
    "d14_edit_join" -> d14EditJoin _,
    "d12_containment" -> d12Containment _,
    "x20_bpe_train" -> x20BpeTrain _,
    "d10_semantic_dedup" -> d10SemanticDedup _,
    "e3_kmeans" -> e3Kmeans _,
    "e9_silhouette" -> e9Silhouette _,
    "e4_covariance" -> e4Covariance _,
    "e8_corr_matrix" -> e8CorrMatrix _,
    "x9_source_quota" -> x9SourceQuota _,
    "x10_mixture_sample" -> x10MixtureSample _,
    "x25_weighted_sample" -> x25WeightedSample _,
    "x11_bm25" -> x11Bm25 _,
    "x12_pack" -> x12Pack _,
    "x13_unigram_ppl" -> x13UnigramPpl _,
    "x42_ccnet_buckets" -> x42CcnetBuckets _,
    "x43_readability" -> x43Readability _,
    "x44_winnowing" -> x44Winnowing _,
    "x45_rake" -> x45Rake _,
    "x46_hash_classifier" -> x46HashClassifier _,
    "x14_heavy_hitters" -> x14HeavyHitters _,
    "x24_kl_drift" -> x24KlDrift _,
    "x21_tfidf" -> x21Tfidf _,
    "d13_url_dedup" -> d13UrlDedup _,
    "x22_bigram_ppl" -> x22BigramPpl _,
    "x40_kneser_ney" -> x40KneserNey _,
    "x41_ndcg" -> x41Ndcg _,
    "e6_knn_graph" -> e6KnnGraph _,
    "x23_bpe_encode" -> x23BpeEncode _,
    "m3_frame_sample" -> m3FrameSample _,
    "m4_jpeg_parse" -> m4JpegParse _,
    "m6_mp4_parse" -> m6Mp4Parse _,
    "m7_zip_parse" -> m7ZipParse _,
    "m5_tiff_parse" -> m5TiffParse _,
    "m1_multimodal" -> m1Multimodal _,
    "m2_media_transform" -> m2MediaTransform _,
  )

  /** Shared kNN CTE chain (emb0 → cent → b → assign → pair → directed
    * → rk → topk): the e6 directed top-5 replay — spherical md5-order
    * centroid pick, same-cell pairs, per-node rank — reused verbatim
    * by the e17 hubness oracle so the in-degree audit certifies
    * against the SAME proven neighbor lists. */
  private val knnTopkCtes: String =
    """emb0 AS (SELECT vec_id,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings),
      |cent AS (SELECT vec_id AS cid, v AS cv,
      |    sqrt(list_inner_product(v, v)) AS nc FROM emb0
      |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
      |b AS (SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS nv
      |  FROM emb0),
      |assign AS (SELECT vec_id, v, nv, cid AS cell FROM (
      |    SELECT b.vec_id, b.v, b.nv, c.cid,
      |      ROW_NUMBER() OVER (PARTITION BY b.vec_id ORDER BY
      |        CASE WHEN b.nv * c.nc = 0.0 THEN 0.0
      |             ELSE -(list_inner_product(b.v, c.cv) / (b.nv * c.nc))
      |        END ASC, c.cid ASC) AS rn
      |    FROM b CROSS JOIN cent c) t WHERE rn = 1),
      |pair AS (SELECT a.vec_id AS id_a, bb.vec_id AS id_b,
      |    CASE WHEN a.nv * bb.nv = 0.0 THEN 0.0
      |         ELSE list_inner_product(a.v, bb.v) / (a.nv * bb.nv)
      |    END AS cos
      |  FROM assign a JOIN assign bb
      |    ON a.cell = bb.cell AND a.vec_id < bb.vec_id),
      |directed AS (SELECT id_a AS qid, id_b AS id, cos FROM pair
      |  UNION ALL SELECT id_b AS qid, id_a AS id, cos FROM pair),
      |rk AS (SELECT qid, id, cos,
      |    ROW_NUMBER() OVER (PARTITION BY qid
      |      ORDER BY cos DESC, id ASC) AS rk
      |  FROM directed),
      |topk AS (SELECT * FROM rk WHERE rk <= 5)""".stripMargin

  /** s7 oracle: the beam search UNROLLED — the proven e6 chain gives
    * the graph (`topk`) and entry points (`cent`); each hop is a
    * candidate-set UNION (SQL UNION = the engine's distinct), a
    * ROW_NUMBER beam cut on unrounded cos (desc, id asc — the TopKAgg
    * order), and an edge join; self is excluded only at the final
    * top-10, exactly the [[Similarity.graphTopK]] contract. */
  /** Beam-search CTE chain shared by the s7 and e21 oracles: scores a
    * candidate set against the query vectors, cuts the top-`n` beam on
    * unrounded cos (desc, id asc), expands out-edges through the
    * proven `topk` graph, and UNIONs (SQL UNION = the engine's
    * distinct). Emits s0..s<hops>, v0..v<hops>, b0.., n1.. — callers
    * append their own final cut. */
  private def annScoreCte(set: String, out: String): String =
    s"""$out AS (SELECT s.qid, s.id,
       |    CASE WHEN bb.nv * q.nqv = 0.0 THEN 0.0
       |         ELSE list_inner_product(bb.v, q.qv) / (bb.nv * q.nqv)
       |    END AS cos
       |  FROM $set s JOIN b bb ON s.id = bb.vec_id
       |    JOIN q ON s.qid = q.qid)"""
  private def annBeamChain(hops: Int, beam: Int): String = {
    val head = Seq(
      """q AS (SELECT vec_id AS qid, v AS qv, nv AS nqv FROM b
        |  WHERE vec_id < 5)""".stripMargin,
      "s0 AS (SELECT q.qid, c.cid AS id FROM q CROSS JOIN cent c)",
      annScoreCte("s0", "v0"))
    val steps = (1 to hops).flatMap { h =>
      Seq(
        s"""b${h - 1} AS (SELECT qid, id FROM (SELECT qid, id,
           |    ROW_NUMBER() OVER (PARTITION BY qid
           |      ORDER BY cos DESC, id ASC) AS rn FROM v${h - 1}) t
           |  WHERE rn <= $beam)""".stripMargin,
        s"""n$h AS (SELECT DISTINCT b${h - 1}.qid, t.id AS id FROM b${h - 1}
           |  JOIN topk t ON b${h - 1}.id = t.qid)""".stripMargin,
        s"s$h AS (SELECT qid, id FROM s${h - 1} UNION SELECT qid, id FROM n$h)",
        annScoreCte(s"s$h", s"v$h"))
    }
    (head ++ steps).mkString(",\n")
  }

  private def s7OracleSql: String =
    s"""WITH $knnTopkCtes,
       |${annBeamChain(hops = 2, beam = 4)},
       |fin AS (SELECT qid, id, cos,
       |    ROW_NUMBER() OVER (PARTITION BY qid
       |      ORDER BY cos DESC, id ASC) AS rk
       |  FROM v2 WHERE id <> qid)
       |SELECT qid, id, ROUND(cos, 6) AS cos, rk FROM fin
       |WHERE rk <= 10 ORDER BY qid, rk""".stripMargin

  /** e21 oracle: the SAME incremental beam chain taken out to 3 hops;
    * each horizon h gets its own top-10 cut of v<h> (self excluded)
    * and a count row against the e10-style brute CTE — one chain, four
    * operating points, exactly the shared-index engine sweep. */
  private def e21OracleSql: String = {
    val fins = Seq(0, 1, 2, 3).map { h =>
      s"""tk$h AS (SELECT qid, id FROM (SELECT qid, id,
         |    ROW_NUMBER() OVER (PARTITION BY qid
         |      ORDER BY cos DESC, id ASC) AS rk
         |  FROM v$h WHERE id <> qid) t WHERE rk <= 10),
         |r$h AS (SELECT $h AS hops,
         |    (SELECT COUNT(*) FROM brute) AS n_brute,
         |    (SELECT COUNT(*) FROM tk$h) AS n_graph,
         |    (SELECT COUNT(*) FROM brute JOIN tk$h USING (qid, id))
         |      AS n_overlap)""".stripMargin
    }.mkString(",\n")
    s"""WITH $knnTopkCtes,
       |${annBeamChain(hops = 3, beam = 4)},
       |brute AS (SELECT qid, id FROM (
       |    SELECT q.vec_id AS qid, a.vec_id AS id,
       |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
       |        CASE WHEN a.nv * q.nv = 0 THEN 0.0
       |             ELSE list_inner_product(a.v, q.v) / (a.nv * q.nv)
       |        END DESC, a.vec_id ASC) AS rk
       |    FROM b a CROSS JOIN (SELECT * FROM b WHERE vec_id < 5) q
       |    WHERE a.vec_id <> q.vec_id) t
       |  WHERE rk <= 10),
       |$fins
       |SELECT hops, n_brute, n_graph, n_overlap,
       |  CAST(n_overlap AS DOUBLE) / CAST(n_brute AS DOUBLE) AS recall
       |FROM (SELECT * FROM r0 UNION ALL SELECT * FROM r1
       |      UNION ALL SELECT * FROM r2 UNION ALL SELECT * FROM r3) u
       |ORDER BY hops""".stripMargin
  }

  /** x46 oracle: the identical hashed-classifier arithmetic — same
    * base-131/8-char polynomial (constants interpolated from
    * [[graft.operators.HashClassifier]] — one source of truth), same
    * mod-chain weights, exact BIGINT sums, one IEEE division. */
  private def x46OracleSql: String = {
    import graft.operators.HashClassifier._
    val poly = (0 until 8).map(k =>
      s"CAST(ascii(substr(rpad(f, 8, ' '), ${k + 1}, 1)) % 256 AS BIGINT)" +
        s" * ${CharPows(k)}")
      .mkString(" +\n      ")
    s"""WITH base AS (SELECT doc_id, string_split($normSql, ' ') AS toks
       |  FROM documents),
       |idx AS (SELECT doc_id, toks, len(toks) AS n,
       |    unnest(range(1, len(toks) + 1)) AS i FROM base),
       |feats AS (
       |  SELECT doc_id, toks[i] AS f FROM idx
       |  UNION ALL
       |  SELECT doc_id, toks[i] || '_' || toks[i + 1] AS f FROM idx
       |  WHERE i < n),
       |w AS (SELECT doc_id,
       |    ((((($poly)
       |      + CAST(len(f) AS BIGINT) * $LenMix) % $NumBuckets)
       |      * $WMul + $WAdd) % $WRange) - $WShift AS w
       |  FROM feats),
       |agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_feats,
       |    CAST(SUM(w) AS BIGINT) AS score_raw FROM w GROUP BY doc_id)
       |SELECT doc_id, n_feats, score_raw,
       |  CAST(score_raw AS DOUBLE) /
       |    (CAST(n_feats AS DOUBLE) * $WShift.0) AS score_norm,
       |  score_raw > 0 AS keep
       |FROM agg ORDER BY doc_id""".stripMargin
  }

  /** x11 oracle: BM25 recomputed from scratch in SQL, generated from
    * the SAME term list. Arithmetic mirrors Retrieval.bm25 EXPRESSION
    * FOR EXPRESSION (unfolded "(1.2 + 1.0)", left-assoc sums, exact
    * Σdl/N avgdl) so every double op is the same IEEE sequence; ln is
    * the one library call, washed out by ROUND(...,6). */
  /** Shared BM25 lexical CTE chain (base → tf → st → lexall) — the x11
    * scorer replay, reused verbatim by the s6 hybrid oracle so the
    * fused ranking certifies against the SAME proven lexical scores. */
  private def bm25ScoredCtes: String = {
    val ts = bm25Terms
    val tfDefs = ts.zipWithIndex.map { case (t, i) =>
      s"CAST(len(list_filter(toks, t -> t = '$t')) AS INT) AS tf$i" }.mkString(",\n    ")
    val dfDefs = ts.indices.map(i =>
      s"SUM(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS df$i").mkString(", ")
    val terms = ts.indices.map { i =>
      s"""ln((CAST(n_docs AS DOUBLE) - CAST(df$i AS DOUBLE) + 0.5) /
         |      (CAST(df$i AS DOUBLE) + 0.5) + 1.0) *
         |    (CAST(tf$i AS DOUBLE) * (1.2 + 1.0)) /
         |    (CAST(tf$i AS DOUBLE) + 1.2 * (0.25 + 0.75 * dl / avgdl))""".stripMargin
    }.mkString(" +\n    ")
    val tfOut = ts.zipWithIndex.map { case (t, i) => s"tf$i AS tf_$t" }.mkString(", ")
    val anyHit = ts.indices.map(i => s"tf$i > 0").mkString(" OR ")
    s"""base AS (SELECT doc_id,
       |    string_split($normSql, ' ') AS toks FROM documents),
       |tf AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl,
       |    $tfDefs
       |  FROM base),
       |st AS (SELECT COUNT(*) AS n_docs,
       |    CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl, $dfDefs
       |  FROM tf),
       |lexall AS (SELECT doc_id, ROUND($terms, 6) AS score, $tfOut
       |  FROM tf, st WHERE $anyHit)""".stripMargin
  }

  private def x11OracleSql: String =
    s"""WITH $bm25ScoredCtes
       |SELECT * FROM lexall ORDER BY doc_id""".stripMargin

  /** x41 oracle: the proven lexall CTE graded by its own term hits,
    * both top-20 cuts, 9-dp decimal term rounding, exact decimal
    * running sums, 10⁻⁹-grid BIGINT DCG/IDCG, one pinned int64→double
    * division — the identical pipeline as [[Retrieval.ndcgCurve]]. */
  private def x41OracleSql: String =
    s"""WITH $bm25ScoredCtes,
       |pool AS (SELECT doc_id AS id, score,
       |    CAST(LEAST(3, tf_sort) AS INT) AS rel
       |  FROM lexall),
       |rt AS (SELECT id, rel, rank FROM (
       |    SELECT id, rel,
       |      ROW_NUMBER() OVER (ORDER BY score DESC, id) AS rank
       |    FROM pool) WHERE rank <= 20),
       |it AS (SELECT id, rel, rank FROM (
       |    SELECT id, rel,
       |      ROW_NUMBER() OVER (ORDER BY rel DESC, id) AS rank
       |    FROM pool) WHERE rank <= 20),
       |rlp AS (SELECT rank, id, rel,
       |    CAST(ROUND((CASE WHEN rel = 0 THEN 0.0 WHEN rel = 1 THEN 1.0
       |        WHEN rel = 2 THEN 3.0 ELSE 7.0 END)
       |      / ln(CAST(rank AS DOUBLE) + 1.0), 9) AS DECIMAL(18,9)) AS lp
       |  FROM rt),
       |ilp AS (SELECT rank,
       |    CAST(ROUND((CASE WHEN rel = 0 THEN 0.0 WHEN rel = 1 THEN 1.0
       |        WHEN rel = 2 THEN 3.0 ELSE 7.0 END)
       |      / ln(CAST(rank AS DOUBLE) + 1.0), 9) AS DECIMAL(18,9)) AS lp
       |  FROM it),
       |rc AS (SELECT rank, id, rel, SUM(lp) OVER (ORDER BY rank
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS dcg
       |  FROM rlp),
       |ic AS (SELECT rank, SUM(lp) OVER (ORDER BY rank
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS dcg
       |  FROM ilp)
       |SELECT rc.rank, rc.id, rc.rel,
       |  CAST(rc.dcg * 1000000000 AS BIGINT) AS dcg_e9,
       |  CAST(ic.dcg * 1000000000 AS BIGINT) AS idcg_e9,
       |  ROUND(CASE WHEN CAST(ic.dcg * 1000000000 AS BIGINT) > 0 THEN
       |    CAST(CAST(rc.dcg * 1000000000 AS BIGINT) AS DOUBLE)
       |    / CAST(CAST(ic.dcg * 1000000000 AS BIGINT) AS DOUBLE) END, 6)
       |    + 0.0 AS ndcg
       |FROM rc JOIN ic ON rc.rank = ic.rank ORDER BY rc.rank""".stripMargin

  /** s6 oracle: the proven lexical (x11) and dense (s1) replays as
    * CTEs, cut to top-20 ranks, full-outer-joined and RRF-folded with
    * the identical pinned `lex-term + vec-term` addition. */
  private def s6OracleSql: String =
    s"""WITH $bm25ScoredCtes,
       |lex AS (SELECT id, rk FROM (
       |    SELECT doc_id AS id, ROW_NUMBER() OVER
       |      (ORDER BY score DESC, doc_id) AS rk FROM lexall)
       |  WHERE rk <= 20),
       |vec AS (SELECT id, rk FROM (
       |    SELECT a.vec_id AS id, ROW_NUMBER() OVER
       |      (ORDER BY $cosSql DESC, a.vec_id ASC) AS rk
       |    FROM embeddings a JOIN embeddings b
       |      ON b.vec_id = 0 AND a.vec_id <> 0)
       |  WHERE rk <= 20),
       |f AS (SELECT COALESCE(lex.id, vec.id) AS id,
       |    lex.rk AS rk_lex, vec.rk AS rk_vec,
       |    COALESCE(1.0 / (60 + lex.rk), 0.0)
       |      + COALESCE(1.0 / (60 + vec.rk), 0.0) AS rrf
       |  FROM lex FULL OUTER JOIN vec ON lex.id = vec.id)
       |SELECT rk, id, rk_lex, rk_vec, rrf FROM (
       |  SELECT f.*, ROW_NUMBER() OVER (ORDER BY rrf DESC, id) AS rk
       |  FROM f)
       |WHERE rk <= 10 ORDER BY rk""".stripMargin

  private val normSql = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
  private val cosSql =
    "list_cosine_similarity(list_transform(a.embedding, x -> CAST(x AS DOUBLE)), " +
      "list_transform(b.embedding, x -> CAST(x AS DOUBLE)))"

  /** d3 oracle: recompute the SimHash bit-by-bit in SQL. Token hashes
    * are md5 prefixes (engine-reproducible); bit i of the hash
    * contributes ±1 to counter i and the sign of each counter forms the
    * hash — 60 generated terms (the top 4 bits of a 60-bit hash are
    * structurally zero on both engines). Pigeonhole chunk join +
    * bit_count(xor) mirrors simhashPairs exactly. */
  private def d3OracleSql: String = {
    val bitTerms = (0 until 60).map { i =>
      s"(CASE WHEN list_sum(list_transform(th, tok -> CASE WHEN (tok >> $i) & 1 = 1 THEN 1 ELSE -1 END)) > 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString(" + ")
    s"""WITH all_docs AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL SELECT doc_id + 1000000, text || ' zz qq' FROM documents),
       |toks AS (SELECT doc_id,
       |    list_transform(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '),
       |      w -> CAST('0x' || substr(md5(w), 1, 15) AS BIGINT)) AS th
       |  FROM all_docs),
       |s AS (SELECT doc_id, $bitTerms AS sh FROM toks),
       |k AS (SELECT doc_id, sh, chunk, (sh >> (chunk * 16)) & 65535 AS key
       |      FROM (SELECT doc_id, sh, unnest([0, 1, 2, 3]) AS chunk FROM s)),
       |p AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       |    CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming
       |  FROM k a JOIN k b ON a.chunk = b.chunk AND a.key = b.key
       |    AND a.doc_id < b.doc_id)
       |SELECT id_a, id_b, hamming FROM p WHERE hamming <= 3
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** s2 oracle: DuckDB replays the ENTIRE sign-LSH procedure — the 8
    * seeded hyperplanes are embedded as literal arrays (Double.toString
    * round-trips to the same binary double), buckets recompute as sign
    * bits of literal-plane dot products, the 37 multi-probe XOR masks
    * enumerate inline, and the top-k window ranks by UNROUNDED cosine
    * exactly like TopKAgg. A hash-match is therefore a bit-level proof
    * of the whole bucketing + probing + scoring pipeline. */
  private def s1OracleSql: String =
    s"""SELECT qid, id, cos, rk FROM (
       |  SELECT b.vec_id AS qid, a.vec_id AS id, ROUND($cosSql, 6) AS cos,
       |    ROW_NUMBER() OVER (PARTITION BY b.vec_id
       |      ORDER BY $cosSql DESC, a.vec_id ASC) AS rk
       |  FROM embeddings a JOIN embeddings b
       |    ON b.vec_id < 5 AND a.vec_id != b.vec_id)
       |WHERE rk <= 10 ORDER BY qid, rk""".stripMargin

  private def s2OracleSql: String = {
    val bits = 8
    val planes = graft.operators.VectorOps.hyperplanes(bits, 64)
    def arr(p: Array[Double]) = p.mkString("[", ", ", "]")
    val bucketExpr = planes.zipWithIndex.map { case (p, i) =>
      s"(CASE WHEN list_inner_product(v, ${arr(p)}) >= 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString(" + ")
    val masks = (0L +: ((0 until bits).map(i => 1L << i) ++
      (for (i <- 0 until bits; j <- (i + 1) until bits)
        yield (1L << i) | (1L << j)))).mkString(", ")
    s"""WITH emb AS (SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |b AS (SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS nv,
       |    $bucketExpr AS bucket FROM emb),
       |probes AS (SELECT vec_id AS qid, v AS qv, nv AS nqv,
       |    xor(bucket, f.m) AS bucket
       |  FROM b CROSS JOIN (SELECT unnest([$masks]) AS m) f
       |  WHERE vec_id < 5),
       |scored AS (SELECT p.qid, c.vec_id AS id,
       |    CASE WHEN c.nv * p.nqv = 0 THEN 0.0
       |         ELSE list_inner_product(c.v, p.qv) / (c.nv * p.nqv) END AS cos
       |  FROM b c JOIN probes p ON c.bucket = p.bucket AND c.vec_id <> p.qid)
       |SELECT qid, id, ROUND(cos, 6) AS cos, rk FROM (
       |  SELECT qid, id, cos,
       |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, id ASC) AS rk
       |  FROM scored) t
       |WHERE rk <= 10 ORDER BY qid, rk""".stripMargin
  }

  /** s3 oracle: the sampled-centroid IVF index is pure SQL — centroids
    * are the 16 corpus vectors with smallest md5(id), cell assignment
    * is the argmin of ip(c,c) - 2·ip(v,c) (ties to the smaller cid,
    * mirroring the struct-ordering argmin on the Spark side), probes
    * are each query's 4 nearest centroids. DuckDB rebuilds the index
    * from the raw table and must land on the identical top-k. */
  private def s3OracleSql: String = {
    val rankOrder = "list_inner_product(c.cv, c.cv) - " +
      "2 * list_inner_product(b.v, c.cv) ASC, c.cid ASC"
    s"""WITH emb AS (SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |cent AS (SELECT vec_id AS cid, v AS cv FROM emb
       |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
       |b AS (SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS nv FROM emb),
       |assign AS (SELECT vec_id, v, nv, cid AS cell FROM (
       |    SELECT b.vec_id, b.v, b.nv, c.cid,
       |      ROW_NUMBER() OVER (PARTITION BY b.vec_id ORDER BY $rankOrder) AS rn
       |    FROM b CROSS JOIN cent c) t WHERE rn = 1),
       |probes AS (SELECT vec_id AS qid, cid AS cell FROM (
       |    SELECT b.vec_id, c.cid,
       |      ROW_NUMBER() OVER (PARTITION BY b.vec_id ORDER BY $rankOrder) AS rn
       |    FROM b CROSS JOIN cent c WHERE b.vec_id < 5) t WHERE rn <= 4),
       |scored AS (SELECT p.qid, a.vec_id AS id,
       |    CASE WHEN a.nv * q.nv = 0 THEN 0.0
       |         ELSE list_inner_product(a.v, q.v) / (a.nv * q.nv) END AS cos
       |  FROM assign a JOIN probes p ON a.cell = p.cell AND a.vec_id <> p.qid
       |  JOIN b q ON q.vec_id = p.qid)
       |SELECT qid, id, ROUND(cos, 6) AS cos, rk FROM (
       |  SELECT qid, id, cos,
       |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, id ASC) AS rk
       |  FROM scored) t
       |WHERE rk <= 10 ORDER BY qid, rk""".stripMargin
  }

  /** e10 oracle: s3's full index replay with the probe cut left at
    * rn ≤ 8, then one scored/top-k/count branch per nProbe sweep —
    * brute ground truth from the s1 shape, recall the same single
    * IEEE division. */
  private def e10OracleSql: String = {
    val rankOrder = "list_inner_product(c.cv, c.cv) - " +
      "2 * list_inner_product(b.v, c.cv) ASC, c.cid ASC"
    val branches = Seq(1, 2, 4, 8).map { np =>
      s"""sc$np AS (SELECT p.qid, a.vec_id AS id,
         |    CASE WHEN a.nv * q.nv = 0 THEN 0.0
         |         ELSE list_inner_product(a.v, q.v) / (a.nv * q.nv) END AS cos
         |  FROM assign a JOIN pr p ON a.cell = p.cell AND a.vec_id <> p.qid
         |    AND p.rn <= $np
         |  JOIN b q ON q.vec_id = p.qid),
         |tk$np AS (SELECT qid, id FROM (
         |    SELECT qid, id,
         |      ROW_NUMBER() OVER (PARTITION BY qid
         |        ORDER BY cos DESC, id ASC) AS rk FROM sc$np) t
         |  WHERE rk <= 10),
         |r$np AS (SELECT $np AS nprobe,
         |    (SELECT COUNT(*) FROM brute) AS n_brute,
         |    (SELECT COUNT(*) FROM tk$np) AS n_ivf,
         |    (SELECT COUNT(*) FROM brute JOIN tk$np USING (qid, id))
         |      AS n_overlap)""".stripMargin
    }.mkString(",\n")
    s"""WITH emb AS (SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |cent AS (SELECT vec_id AS cid, v AS cv FROM emb
       |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
       |b AS (SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS nv FROM emb),
       |assign AS (SELECT vec_id, v, nv, cid AS cell FROM (
       |    SELECT b.vec_id, b.v, b.nv, c.cid,
       |      ROW_NUMBER() OVER (PARTITION BY b.vec_id ORDER BY $rankOrder) AS rn
       |    FROM b CROSS JOIN cent c) t WHERE rn = 1),
       |pr AS (SELECT vec_id AS qid, cid AS cell, rn FROM (
       |    SELECT b.vec_id, c.cid,
       |      ROW_NUMBER() OVER (PARTITION BY b.vec_id ORDER BY $rankOrder) AS rn
       |    FROM b CROSS JOIN cent c WHERE b.vec_id < 5) t WHERE rn <= 8),
       |brute AS (SELECT qid, id FROM (
       |    SELECT q.vec_id AS qid, a.vec_id AS id,
       |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
       |        CASE WHEN a.nv * q.nv = 0 THEN 0.0
       |             ELSE list_inner_product(a.v, q.v) / (a.nv * q.nv) END DESC,
       |        a.vec_id ASC) AS rk
       |    FROM b a CROSS JOIN (SELECT * FROM b WHERE vec_id < 5) q
       |    WHERE a.vec_id <> q.vec_id) t
       |  WHERE rk <= 10),
       |$branches
       |SELECT nprobe, n_brute, n_ivf, n_overlap,
       |  CAST(n_overlap AS DOUBLE) / CAST(n_brute AS DOUBLE) AS recall
       |FROM (SELECT * FROM r1 UNION ALL SELECT * FROM r2
       |      UNION ALL SELECT * FROM r4 UNION ALL SELECT * FROM r8) u
       |ORDER BY nprobe""".stripMargin
  }

  /** s5 oracle: replay the ENTIRE PQ index in SQL — md5-order codeword
    * sample (ROW_NUMBER-1 = positional code, matching the Spark array
    * index), per-subspace argmin encoding, reconstruction norm and ADC
    * dot as EXPLICIT left-associated 8-term sums (matching the Spark
    * reduce(_ + _) summation order bit-for-bit), approx top-40
    * candidates, exact-cosine re-rank to top-10. */
  private def s5OracleSql: String = {
    def chain(f: Int => String): String =
      (0 until 8).map(f).mkString("(", " + ", ")")
    val recChain = chain(j => s"MAX(CASE WHEN j = $j THEN ipcc END)")
    val adcChain = chain(j => s"MAX(CASE WHEN j = $j THEN ipq END)")
    s"""WITH emb AS (SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |cent AS (SELECT ROW_NUMBER() OVER (
       |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS c, v AS cv
       |  FROM emb ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
       |b AS (SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS nv FROM emb),
       |js AS (SELECT CAST(j AS INT) AS j FROM range(8) t(j)),
       |enc AS (SELECT vec_id, j, c FROM (
       |    SELECT b.vec_id, js.j, ct.c,
       |      ROW_NUMBER() OVER (PARTITION BY b.vec_id, js.j ORDER BY
       |        list_inner_product(ct.cv[js.j*8+1:js.j*8+8],
       |                           ct.cv[js.j*8+1:js.j*8+8])
       |        - 2 * list_inner_product(b.v[js.j*8+1:js.j*8+8],
       |                                 ct.cv[js.j*8+1:js.j*8+8]) ASC,
       |        ct.c ASC) AS rn
       |    FROM b CROSS JOIN js CROSS JOIN cent ct) t WHERE rn = 1),
       |jq AS (SELECT e.vec_id, e.j,
       |    ct.cv[e.j*8+1:e.j*8+8] AS cw
       |  FROM enc e JOIN cent ct ON ct.c = e.c),
       |rec AS (SELECT vec_id, $recChain AS rn2
       |  FROM (SELECT vec_id, j, list_inner_product(cw, cw) AS ipcc FROM jq)
       |  GROUP BY vec_id),
       |adc AS (SELECT qid, id, $adcChain AS dot FROM (
       |    SELECT q.vec_id AS qid, jq.vec_id AS id, jq.j,
       |      list_inner_product(q.v[jq.j*8+1:jq.j*8+8], jq.cw) AS ipq
       |    FROM jq CROSS JOIN (SELECT vec_id, v FROM b WHERE vec_id < 5) q
       |    WHERE jq.vec_id <> q.vec_id)
       |  GROUP BY qid, id),
       |appr AS (SELECT a.qid, a.id,
       |    CASE WHEN sqrt(r.rn2) * qn.nv = 0 THEN 0.0
       |         ELSE a.dot / (sqrt(r.rn2) * qn.nv) END AS acos
       |  FROM adc a JOIN rec r ON r.vec_id = a.id
       |  JOIN b qn ON qn.vec_id = a.qid),
       |cand AS (SELECT qid, id FROM (
       |    SELECT qid, id,
       |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY acos DESC, id ASC) AS rn
       |    FROM appr) t WHERE rn <= 40),
       |ex AS (SELECT c.qid, c.id,
       |    CASE WHEN x.nv * qq.nv = 0 THEN 0.0
       |         ELSE list_inner_product(x.v, qq.v) / (x.nv * qq.nv) END AS cos
       |  FROM cand c JOIN b x ON x.vec_id = c.id JOIN b qq ON qq.vec_id = c.qid)
       |SELECT qid, id, ROUND(cos, 6) AS cos, rk FROM (
       |  SELECT qid, id, cos,
       |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, id ASC) AS rk
       |  FROM ex) t
       |WHERE rk <= 10 ORDER BY qid, rk""".stripMargin
  }

  /** Oracles for the SQL-expressible subset; the rest are rows-only
    * (probabilistic sketches / LSH top-k with engine-seeded internals). */
  /** Shared by d2/d6: docs ∪ perturbed copies → distinct word-3-shingle
    * sets → exact all-pairs jaccard candidates (j). RECURSIVE is inert
    * for d2 and enables d6's closure CTE. */
  /** e11 oracle: one s1-shape brute-force CTE per prefix dimension,
    * cosine over the SAME list prefix both engines slice. */
  private def e11OracleSql: String = {
    val dims = Seq(8, 16, 32, 64)
    def cos(d: Int) =
      s"list_cosine_similarity(a.v[1:$d], b.v[1:$d])"
    val cuts = dims.map { d =>
      s"""cut$d AS (SELECT qid, id FROM (
         |  SELECT b.vec_id AS qid, a.vec_id AS id,
         |    ROW_NUMBER() OVER (PARTITION BY b.vec_id
         |      ORDER BY ${cos(d)} DESC, a.vec_id ASC) AS rk
         |  FROM emb a JOIN emb b ON b.vec_id < 5 AND a.vec_id <> b.vec_id)
         |  WHERE rk <= 10),
         |r$d AS (SELECT $d AS dims,
         |  (SELECT COUNT(*) FROM cut64x) AS n_full,
         |  (SELECT COUNT(*) FROM cut64x JOIN cut$d USING (qid, id)) AS n_overlap)""".stripMargin
    }.mkString(",\n")
    val unions = dims.map(d => s"SELECT * FROM r$d").mkString(" UNION ALL ")
    s"""WITH emb AS (SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |cut64x AS (SELECT qid, id FROM (
       |  SELECT b.vec_id AS qid, a.vec_id AS id,
       |    ROW_NUMBER() OVER (PARTITION BY b.vec_id
       |      ORDER BY ${cos(64)} DESC, a.vec_id ASC) AS rk
       |  FROM emb a JOIN emb b ON b.vec_id < 5 AND a.vec_id <> b.vec_id)
       |  WHERE rk <= 10),
       |$cuts
       |SELECT dims, n_full, n_overlap,
       |  CAST(n_overlap AS DOUBLE) / CAST(n_full AS DOUBLE) AS recall
       |FROM ($unions) ORDER BY dims""".stripMargin
  }

  /** d16 oracle: per-config CTEs generated from the same (bands, rows)
    * list the Spark side sweeps. */
  private def d16OracleSql: String = {
    val configs = Seq((4, 4), (8, 2), (16, 1))
    val perConfig = configs.map { case (b, r) =>
      s"""ex$b AS (SELECT id, i AS band,
         |    array_to_string(sig[CAST(i*$r+1 AS INT):CAST(i*$r+$r AS INT)], ',') AS key
         |  FROM sg, (SELECT unnest(range(0, $b)) AS i) t),
         |cd$b AS (SELECT DISTINCT x.id AS id_a, y.id AS id_b
         |  FROM ex$b x JOIN ex$b y
         |  ON x.band = y.band AND x.key = y.key AND x.id < y.id),
         |r$b AS (SELECT $b AS bands, $r AS rows_per_band,
         |  (SELECT COUNT(*) FROM tr) AS n_true,
         |  (SELECT COUNT(*) FROM cd$b) AS n_cand,
         |  (SELECT COUNT(*) FROM tr JOIN cd$b USING (id_a, id_b)) AS n_caught)""".stripMargin
    }.mkString(",\n")
    val unions = configs.map { case (b, _) => s"SELECT * FROM r$b" }
      .mkString(" UNION ALL ")
    s"""WITH samp AS (
       |  SELECT doc_id AS id, text FROM documents
       |  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id LIMIT 300),
       |all_docs AS (SELECT id, text FROM samp
       |  UNION ALL SELECT id + 1000000, text || ' zz qq' FROM samp),
       |b AS (SELECT id,
       |    list_distinct(list_transform(
       |      range(1, CAST(greatest(len(string_split(nt, ' ')) - 2, 1) AS BIGINT) + 1),
       |      i -> array_to_string((string_split(nt, ' '))[CAST(i AS INT):CAST(i AS INT)+2], ' '))) AS sh
       |  FROM (SELECT id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS nt
       |        FROM all_docs)),
       |sg AS (SELECT id, list_transform(range(0, 16), k ->
       |    list_min(list_transform(sh,
       |      s -> CAST('0x' || substr(md5(CAST(k AS VARCHAR) || '|' || s), 1, 15) AS BIGINT)))) AS sig
       |  FROM b),
       |hv AS (SELECT id, list_sort(list_distinct(list_transform(sh,
       |    s -> CAST('0x' || substr(md5('g|' || s), 1, 15) AS BIGINT)))) AS hv
       |  FROM b),
       |tr AS (SELECT a.id AS id_a, bb.id AS id_b
       |  FROM hv a JOIN hv bb ON a.id < bb.id
       |    AND len(a.hv) * 2 >= len(bb.hv) AND len(bb.hv) * 2 >= len(a.hv)
       |    AND CAST(len(list_intersect(a.hv, bb.hv)) AS DOUBLE)
       |      / (len(a.hv) + len(bb.hv) - len(list_intersect(a.hv, bb.hv))) >= 0.5),
       |$perConfig
       |SELECT bands, rows_per_band, n_true, n_cand, n_caught,
       |  CAST(n_caught AS DOUBLE) / NULLIF(CAST(n_true AS DOUBLE), 0.0) AS recall,
       |  CAST(n_caught AS DOUBLE) / NULLIF(CAST(n_cand AS DOUBLE), 0.0) AS cand_precision
       |FROM ($unions) ORDER BY bands""".stripMargin
  }

  /** Shared d2/d6/d19 pair CTE chain: exact pairwise Jaccard over
    * distinct 3-gram shingle STRINGS. Pair enumeration is an inverted
    * gram index (unnest → equi-join on gram → COUNT(*) = |A∩B| exactly,
    * since `sh` is distinct) rather than an all-pairs self-join:
    * lossless at any threshold > 0 because J(A,B) > 0 requires at
    * least one shared gram, so every qualifying pair appears in the
    * join. Cost is Σ_g df(g)² (~12M rows at sf0.1, seconds in DuckDB)
    * vs the quadratic all-pairs form that exceeded a 40-minute budget
    * at sf0.1 (10k docs). Bit-identical output verified against the
    * all-pairs form at sf0.01/sf0.001. */
  private val d2PairCtes: String =
    """WITH RECURSIVE all_docs AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL SELECT doc_id + 1000000, text || ' zz qq' FROM documents),
      |b AS (SELECT doc_id,
      |    list_distinct(list_transform(
      |      range(1, CAST(greatest(len(string_split(nt, ' ')) - 2, 1) AS BIGINT) + 1),
      |      i -> array_to_string((string_split(nt, ' '))[CAST(i AS INT):CAST(i AS INT)+2], ' '))) AS sh
      |  FROM (SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS nt
      |        FROM all_docs)),
      |dg AS (SELECT doc_id, len(sh) AS sz1, unnest(sh) AS g FROM b),
      |j AS (
      |  SELECT a.doc_id AS id_a, bb.doc_id AS id_b,
      |    CAST(COUNT(*) AS DOUBLE) AS common,
      |    CAST(ANY_VALUE(a.sz1) + ANY_VALUE(bb.sz1) AS DOUBLE) AS sz
      |  FROM dg a JOIN dg bb ON a.g = bb.g AND a.doc_id < bb.doc_id
      |  GROUP BY a.doc_id, bb.doc_id)""".stripMargin

  /** Shared d20/d21 span CTE chain: the Lee et al. ExactSubstr ground
    * truth on gram STRINGS — positional 13-grams over the planted d8
    * corpus, equality join into occurrence pairs, diagonal islands via
    * pos − row_number. Ends at `isl` (one row per matched window);
    * `tk` (doc_id, ts) stays visible for d21's removal replay. */
  private val d20SpanCtes: String =
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL SELECT doc_id + 1000000, text FROM documents
      |  WHERE doc_id < 20
      |  UNION ALL SELECT doc_id + 2000000, 'qq ww ee rr tt ' || text
      |  FROM documents WHERE doc_id >= 20 AND doc_id < 40),
      |tk AS (SELECT doc_id,
      |    string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS ts
      |  FROM corpus),
      |g0 AS (SELECT doc_id, ts,
      |    unnest(generate_series(1, len(ts) - 12)) AS i
      |  FROM tk WHERE len(ts) >= 13),
      |g AS (SELECT doc_id, i - 1 AS pos,
      |    array_to_string(ts[CAST(i AS INT):CAST(i AS INT) + 12], ' ') AS gs
      |  FROM g0),
      |p AS (SELECT a.doc_id AS id_a, a.pos AS pos_a,
      |    b.doc_id AS id_b, b.pos AS pos_b
      |  FROM g a JOIN g b ON a.gs = b.gs
      |    AND (a.doc_id < b.doc_id
      |      OR (a.doc_id = b.doc_id AND a.pos < b.pos))),
      |isl AS (SELECT id_a, id_b, pos_a, pos_b, pos_a - pos_b AS diag,
      |    pos_a - ROW_NUMBER() OVER (PARTITION BY id_a, id_b, pos_a - pos_b
      |      ORDER BY pos_a) AS island
      |  FROM p)""".stripMargin

  /** d21/d23 removal replay: d20's span chain + later (b-side)
    * occurrences cut, per-doc interval UNION via the same
    * max-over-preceding island device the Spark side's Intervals.merge
    * uses, kept tokens re-assembled in position order and compared
    * VERBATIM. d23 (the pair-free OWNED form) shares this string
    * byte-for-byte: its contract is exactly "identical rewrite". */
  private val d21RemovalSql: String =
    s"""$d20SpanCtes,
      |spans AS (SELECT id_b AS id, MIN(pos_b) AS s,
      |    MIN(pos_b) + COUNT(*) + 12 AS e
      |  FROM isl GROUP BY id_a, id_b, diag, island),
      |o1 AS (SELECT id, s, e,
      |    MAX(e) OVER (PARTITION BY id ORDER BY s, e
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pe
      |  FROM spans),
      |o2 AS (SELECT id, s, e,
      |    CASE WHEN pe IS NULL OR s > pe THEN 1 ELSE 0 END AS op FROM o1),
      |o3 AS (SELECT id, s, e,
      |    SUM(op) OVER (PARTITION BY id ORDER BY s, e
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
      |  FROM o2),
      |miv AS (SELECT id, MIN(s) AS ms, MAX(e) AS me FROM o3
      |  GROUP BY id, grp),
      |ivl AS (SELECT id, list(struct_pack(s := ms, e := me)) AS ivs
      |  FROM miv GROUP BY id),
      |outt AS (SELECT b.doc_id AS id, len(b.ts) AS n_tokens,
      |    CASE WHEN ivl.ivs IS NULL THEN b.ts
      |    ELSE list_filter(list_transform(generate_series(1, len(b.ts)),
      |      i -> CASE WHEN len(list_filter(ivl.ivs,
      |          iv -> i - 1 >= iv.s AND i - 1 < iv.e)) = 0
      |        THEN b.ts[CAST(i AS INT)] ELSE NULL END), x -> x IS NOT NULL)
      |    END AS kept
      |  FROM tk b LEFT JOIN ivl ON b.doc_id = ivl.id)
      |SELECT id AS doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
      |  CAST(len(kept) AS BIGINT) AS n_kept,
      |  CAST(n_tokens - len(kept) AS BIGINT) AS n_removed,
      |  COALESCE(array_to_string(kept, ' '), '') AS kept_text
      |FROM outt ORDER BY doc_id""".stripMargin

  private val d23RemovalSql: String = d21RemovalSql

  /** d22 CTE chain: d20's gram/island device over the GROUPED corpus —
    * identity groups on the normalized text (rep = min id), grams and
    * islands over representatives only; `sz`/`tk` feed the
    * multiplicity arithmetic. Corpus = d20's + a third copy of
    * docs < 10. */
  private val d22GroupedCtes: String =
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL SELECT doc_id + 1000000, text FROM documents
      |  WHERE doc_id < 20
      |  UNION ALL SELECT doc_id + 2000000, 'qq ww ee rr tt ' || text
      |  FROM documents WHERE doc_id >= 20 AND doc_id < 40
      |  UNION ALL SELECT doc_id + 3000000, text FROM documents
      |  WHERE doc_id < 10),
      |nrm AS (SELECT doc_id,
      |    trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS nt
      |  FROM corpus),
      |grp AS (SELECT nt, MIN(doc_id) AS rep, COUNT(*) AS gsz
      |  FROM nrm GROUP BY nt),
      |sz AS (SELECT rep, gsz FROM grp),
      |tk AS (SELECT rep AS doc_id, gsz, string_split(nt, ' ') AS ts
      |  FROM grp),
      |g0 AS (SELECT doc_id, ts,
      |    unnest(generate_series(1, len(ts) - 12)) AS i
      |  FROM tk WHERE len(ts) >= 13),
      |g AS (SELECT doc_id, i - 1 AS pos,
      |    array_to_string(ts[CAST(i AS INT):CAST(i AS INT) + 12], ' ') AS gs
      |  FROM g0),
      |p AS (SELECT a.doc_id AS id_a, a.pos AS pos_a,
      |    b.doc_id AS id_b, b.pos AS pos_b
      |  FROM g a JOIN g b ON a.gs = b.gs
      |    AND (a.doc_id < b.doc_id
      |      OR (a.doc_id = b.doc_id AND a.pos < b.pos))),
      |isl AS (SELECT id_a, id_b, pos_a, pos_b, pos_a - pos_b AS diag,
      |    pos_a - ROW_NUMBER() OVER (PARTITION BY id_a, id_b, pos_a - pos_b
      |      ORDER BY pos_a) AS island
      |  FROM p),
      |spans AS (SELECT id_a, id_b, MIN(pos_a) AS start_a,
      |    MIN(pos_b) AS start_b, COUNT(*) + 12 AS span_tokens
      |  FROM isl GROUP BY id_a, id_b, diag, island)""".stripMargin

  /** e2 oracle: the 8 seeded planes embedded as literal arrays
    * (Double.toString round-trips), each output dim one
    * list_inner_product — bit-identical to ArrayDotProduct. */
  /** x20 oracle: the whole 5-round BPE fit replayed — word counts,
    * chr(1)-framed symbol strings, weighted adjacent-pair counts,
    * (c DESC, l, r) argmax, leftmost-nonoverlapping replace. */
  /** Shared x20/x23 CTE prefix: the full nMerges-round BPE fit as
    * generated CTEs ending in the tokenized vocabulary `v$n`. */
  private def bpeVocabCtes(n: Int): String = {
    val iters = (1 to n).map { k =>
      s"""e$k AS (SELECT cnt, ws, unnest(generate_series(1, len(ws) - 1)) AS i
         |  FROM (SELECT cnt, list_filter(string_split(sym, chr(1)),
         |          x -> x <> '') AS ws
         |        FROM v${k - 1}) t
         |  WHERE len(ws) >= 2),
         |p$k AS (SELECT ws[i] AS l, ws[i + 1] AS r, SUM(cnt) AS c
         |  FROM e$k GROUP BY 1, 2),
         |m$k AS (SELECT l, r FROM p$k ORDER BY c DESC, l, r LIMIT 1),
         |v$k AS (SELECT word, cnt,
         |    replace(sym, chr(1) || m.l || chr(1) || m.r || chr(1),
         |      chr(1) || m.l || m.r || chr(1)) AS sym
         |  FROM v${k - 1}, m$k m)""".stripMargin
    }.mkString(",\n")
    s"""WITH wc AS (SELECT w AS word, COUNT(*) AS cnt
       |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
       |  WHERE w <> '' GROUP BY w),
       |v0 AS (SELECT word, cnt,
       |    chr(1) || array_to_string(list_transform(
       |      generate_series(1, length(word)),
       |      i -> substr(word, CAST(i AS INT), 1)), chr(1)) || chr(1) AS sym
       |  FROM wc),
       |$iters""".stripMargin
  }

  private def x20OracleSql: String = {
    val n = 5
    s"""${bpeVocabCtes(n)}
       |SELECT word, cnt, CAST(len(ws) AS INT) AS n_tokens,
       |  array_to_string(ws, ' ') AS tokens
       |FROM (SELECT word, cnt,
       |      list_filter(string_split(sym, chr(1)), x -> x <> '') AS ws
       |      FROM v$n)
       |ORDER BY word""".stripMargin
  }

  /** x23 oracle: the x20 fit replay extended by the encode join —
    * per-word token counts from v5, corpus words joined back, integer
    * sums (order-free, exact). */
  /** Shared BPE per-doc encode CTE chain (vocab fit replay → per-word
    * token counts → per-doc sums) — x23's proven replay, reused by the
    * x36 fertility rollup so it certifies against the SAME chain. */
  private def bpeEncodeCtes: String = {
    val n = 5
    s"""${bpeVocabCtes(n)},
       |enc AS (SELECT word,
       |    CAST(len(list_filter(string_split(sym, chr(1)), x -> x <> ''))
       |      AS BIGINT) AS n_tokens
       |  FROM v$n),
       |w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
       |  FROM documents),
       |perdoc AS (SELECT doc_id, COUNT(*) AS n_words,
       |    SUM(n_tokens) AS n_bpe_tokens
       |  FROM w JOIN enc USING (word) WHERE word <> '' GROUP BY 1)""".stripMargin
  }

  private def x23OracleSql: String =
    s"""$bpeEncodeCtes
       |SELECT doc_id, n_words, CAST(n_bpe_tokens AS BIGINT) AS n_bpe_tokens
       |FROM perdoc
       |ORDER BY doc_id""".stripMargin

  /** x36 oracle: x23's per-doc chain rolled up per source with the
    * two fertility divisions. */
  private def x36OracleSql: String =
    s"""$bpeEncodeCtes
       |SELECT d.source, COUNT(*) AS n_docs,
       |  CAST(SUM(p.n_words) AS BIGINT) AS n_words,
       |  CAST(SUM(p.n_bpe_tokens) AS BIGINT) AS n_tokens,
       |  CAST(SUM(d.n_chars) AS BIGINT) AS n_chars,
       |  ROUND(CAST(SUM(p.n_bpe_tokens) AS BIGINT) /
       |    CAST(SUM(p.n_words) AS BIGINT), 6) AS fertility,
       |  ROUND(CAST(SUM(d.n_chars) AS BIGINT) /
       |    CAST(SUM(p.n_bpe_tokens) AS BIGINT), 6) AS chars_per_token
       |FROM perdoc p JOIN documents d USING (doc_id)
       |GROUP BY d.source ORDER BY d.source""".stripMargin

  /** e5 oracle: full replay. Exact HUGEINT moment sums on the 1e-6
    * grid → identical covariance doubles; then the same fixed-order
    * power iteration (list_inner_product ≡ the strict left-to-right
    * driver loops), 30 iterations per component, one deflation. */
  /** Shared PCA power-iteration replay CTE chain (ve → mo → cv →
    * a-chain → l1 → cv2 → b-chain → l2) — e5's proven fit replay,
    * reused verbatim by e14 so the spectrum certifies against the SAME
    * chain that e5's hash match proves. */
  private def pcaChainCtes: String = {
    val d = 16; val iters = 30
    val prs = for { i <- 0 until d; j <- i until d } yield (i, j)
    val qdefs = (0 until d).map(i =>
      s"CAST(FLOOR(CAST(embedding[${i + 1}] AS DOUBLE) * 1000000.0) AS BIGINT) AS q$i")
    val sums = (0 until d).map(i => s"CAST(SUM(q$i) AS DOUBLE) AS sq$i") ++
      prs.map { case (i, j) => s"CAST(SUM(q$i * q$j) AS DOUBLE) AS sqq_${i}_$j" }
    def cexpr(i: Int, j: Int) = {
      val (a, b) = (math.min(i, j), math.max(i, j))
      s"(sqq_${a}_$b - sq$i * sq$j / nd) / nd"
    }
    val rowdefs = (0 until d).map(i =>
      s"[${(0 until d).map(j => cexpr(i, j)).mkString(", ")}] AS r$i")
    def chain(pfx: String, mat: String, rn: Int => String): String =
      (1 to iters).map { k =>
        val prev = if (k == 1) s"${pfx}0" else s"$pfx${k - 1}"
        s"${pfx}w$k AS (SELECT [${(0 until d)
          .map(i => s"list_inner_product($mat.${rn(i)}, p.v)")
          .mkString(", ")}] AS w FROM $mat, $prev p),\n" +
          s"$pfx$k AS (SELECT list_transform(w, x -> x / sqrt(list_inner_product(w, w))) AS v FROM ${pfx}w$k)"
      }.mkString(",\n")
    val v0 = "[" + Seq.fill(d)("0.25").mkString(", ") + "]::DOUBLE[]"
    val defl = (0 until d).map(i =>
      s"[${(0 until d).map(j =>
        s"cv.r$i[${j + 1}] - l1.lam1 * l1.v1[${i + 1}] * l1.v1[${j + 1}]")
        .mkString(", ")}] AS s$i")
    s"""WITH ve AS (SELECT vec_id, label,
       |    list_transform(embedding[1:$d], x -> CAST(x AS DOUBLE)) AS xv,
       |    ${qdefs.mkString(",\n    ")}
       |  FROM embeddings),
       |mo AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nd,
       |    ${sums.mkString(",\n    ")}
       |  FROM ve),
       |cv AS MATERIALIZED (SELECT ${rowdefs.mkString(",\n    ")} FROM mo),
       |a0 AS (SELECT $v0 AS v),
       |${chain("a", "cv", i => s"r$i")},
       |l1a AS (SELECT p.v AS v,
       |    [${(0 until d).map(i => s"list_inner_product(cv.r$i, p.v)").mkString(", ")}] AS cvv
       |  FROM cv, a$iters p),
       |l1 AS (SELECT v AS v1, list_inner_product(v, cvv) AS lam1 FROM l1a),
       |cv2 AS MATERIALIZED (SELECT ${defl.mkString(",\n    ")} FROM cv, l1),
       |b0 AS (SELECT $v0 AS v),
       |${chain("b", "cv2", i => s"s$i")},
       |l2a AS (SELECT p.v AS v,
       |    [${(0 until d).map(i => s"list_inner_product(cv2.s$i, p.v)").mkString(", ")}] AS cvv
       |  FROM cv2, b$iters p),
       |l2 AS (SELECT v AS v2, list_inner_product(v, cvv) AS lam2 FROM l2a)""".stripMargin
  }

  private def e5OracleSql: String =
    s"""$pcaChainCtes
       |SELECT e.vec_id, e.label,
       |  list_inner_product(e.xv, l1.v1) AS p1,
       |  list_inner_product(e.xv, l2.v2) AS p2,
       |  l1.lam1 AS lam1, l2.lam2 AS lam2
       |FROM ve e, l1, l2 ORDER BY e.vec_id""".stripMargin

  /** e14 oracle: trace read off the SAME cv rows (left-associated
    * diagonal sum in index order — the engine's while-loop fold), then
    * the three spectrum rows with pinned division sequences. */
  private def e14OracleSql: String = {
    val d = 16
    val diag = (0 until d).map(i => s"cv.r$i[${i + 1}]").mkString(" + ")
    s"""$pcaChainCtes,
       |tr AS (SELECT $diag AS trace FROM cv)
       |SELECT 'pc1' AS component, l1.lam1 AS lam,
       |  l1.lam1 / tr.trace AS share, l1.lam1 / tr.trace AS cum_share
       |FROM l1, tr
       |UNION ALL
       |SELECT 'pc2', l2.lam2, l2.lam2 / tr.trace,
       |  (l1.lam1 + l2.lam2) / tr.trace FROM l1, l2, tr
       |UNION ALL
       |SELECT 'residual', tr.trace - l1.lam1 - l2.lam2,
       |  (tr.trace - l1.lam1 - l2.lam2) / tr.trace, CAST(1.0 AS DOUBLE)
       |FROM l1, l2, tr
       |ORDER BY component""".stripMargin
  }

  private def e2OracleSql: String = {
    val planes = graft.operators.VectorOps.hyperplanes(8, 64, seed = 7L)
    val scale = math.sqrt(64.0)
    // Two devices make this bit-exact under a FULL-precision compare
    // (the .10g gate hid both): (1) plane constants carry an exponent
    // (`...e0`) so DuckDB parses them directly as DOUBLE — a bare
    // high-precision literal parses as DECIMAL first and the
    // decimal→double hop is 1 ulp off the Java literal; (2) an explicit
    // LEFT-ASSOCIATED v[1]*c1 + v[2]*c2 + ... chain replays
    // ArrayDotProduct's strict left-to-right IEEE sequence exactly.
    def dlit(c: Double): String = {
      val s = c.toString
      if (s.contains('E') || s.contains('e')) s else s + "e0"
    }
    val cols = planes.zipWithIndex.map { case (p, i) =>
      val terms = p.zipWithIndex
        .map { case (c, j) => s"v[${j + 1}] * ${dlit(c)}" }
        .mkString(" + ")
      s"($terms) / $scale AS y${i + 1}"
    }.mkString(",\n       |  ")
    s"""WITH ve AS (SELECT vec_id, label,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings)
       |SELECT vec_id, label,
       |  $cols
       |FROM ve ORDER BY vec_id""".stripMargin
  }

  /** e3 oracle: every Lloyd iteration replayed — assignment = rn 1 over
    * (ip(c,c) − 2·ip(v,c)) ASC, cid ASC; update = per-dim AVG rounded
    * to 6 (the round-6 resync makes the AVG order-independence moot);
    * emptied cells COALESCE to their previous centroid. Iteration CTEs
    * are generated from one template so all three are identical. */
  private def e3IterSql(i: Int): String = {
    val (prev, a, m, c) = (s"c${i - 1}", s"a$i", s"m$i", s"c$i")
    s"""$a AS (SELECT vec_id, v, cid AS cell FROM (
       |    SELECT e.vec_id, e.v, c.cid,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
       |        list_inner_product(c.cv, c.cv) -
       |        2 * list_inner_product(e.v, c.cv) ASC, c.cid ASC) AS rn
       |    FROM emb e CROSS JOIN $prev c) t WHERE rn = 1),
       |$m AS (SELECT cell, list(m ORDER BY dim) AS cv FROM (
       |    SELECT a.cell, d.dim, ROUND(AVG(a.v[d.dim]), 6) AS m
       |    FROM $a a CROSS JOIN dims d GROUP BY a.cell, d.dim) t GROUP BY cell),
       |$c AS (SELECT p.cid, COALESCE(m.cv, p.cv) AS cv
       |  FROM $prev p LEFT JOIN $m m ON m.cell = p.cid)""".stripMargin
  }

  /** The shared Lloyd replay (emb → dims → c0 → c1..c3) — e3's proven
    * fit chain, reused by the e9 silhouette oracle so the quality read
    * certifies against the SAME centroids. */
  private val e3CtesSql: String =
    s"""emb AS (SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |dims AS (SELECT UNNEST(range(1, 65)) AS dim),
       |c0 AS (SELECT ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
       |      vec_id) - 1 AS cid, v AS cv
       |  FROM (SELECT vec_id, v FROM emb
       |        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8) t),
       |${(1 to 3).map(e3IterSql).mkString(",\n")}""".stripMargin

  /** x30 oracle: x2's verbatim score/token-count fragments (the IEEE
    * sequences x2's hash match proves identical), conditional-summed
    * once per threshold and unioned into the curve. */
  // x2's token-count and composite-score fragments (IEEE-identical to
  // TextAnalysis.qualityColumns — proven by x2's hash match), shared by
  // the x30 yield curve and the p4 datasheet oracles
  private val qToksSql =
    "len(string_split_regex(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '))"
  private val qStopSql =
    "len(list_filter(string_split_regex(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '), " +
      "t -> t IN ('the','and','of','to','in','is','you','that','it','for','a')))"
  private val qScoreSql =
    s"least($qToksSql / 100.0, 1.0) * 0.4 " +
      s"+ (length(regexp_replace(text, '[^A-Za-z]', '', 'g')) / greatest(length(text), 1)) * 0.4 " +
      s"+ least($qStopSql / greatest($qToksSql, 1) * 5.0, 1.0) * 0.2"

  private def x30OracleSql: String = {
    val toks = qToksSql
    val score = qScoreSql
    val taus = Seq("0.3", "0.5", "0.7", "0.9")
    val sums = taus.zipWithIndex.map { case (t0, i) =>
      s"SUM(CASE WHEN score >= CAST($t0 AS DOUBLE) THEN 1 ELSE 0 END) AS k$i, " +
        s"SUM(CASE WHEN score >= CAST($t0 AS DOUBLE) THEN n_tokens ELSE 0 END) AS tk$i"
    }.mkString(",\n    ")
    val rows = taus.zipWithIndex.map { case (t0, i) =>
      s"SELECT CAST($t0 AS DOUBLE) AS threshold, CAST(k$i AS BIGINT) AS n_kept, " +
        s"CAST(k$i AS DOUBLE) / CAST(n AS DOUBLE) AS keep_rate, " +
        s"CAST(tk$i AS BIGINT) AS tok_kept, CAST(tk$i AS DOUBLE) / CAST(tok AS DOUBLE) AS tok_share FROM a"
    }.mkString(" UNION ALL ")
    s"""WITH q AS (SELECT CAST($toks AS BIGINT) AS n_tokens,
       |    $score AS score FROM documents),
       |a AS (SELECT COUNT(*) AS n, SUM(n_tokens) AS tok,
       |    $sums
       |  FROM q)
       |SELECT * FROM ($rows) ORDER BY threshold""".stripMargin
  }

  /** x31 oracle: x1's scoring chain templated over a per-half text
    * expression (the same stopword profiles, cjk ratio, and en>de>es>fr
    * tie-break x1's hash match proves against the compiled kernel). */
  private def langPredCtes(sfx: String, src: String): String =
    s"""b$sfx AS (SELECT doc_id,
       |    string_split(trim(regexp_replace(lower($src), '\\s+', ' ', 'g')), ' ') AS toks,
       |    length(regexp_replace($src, '[^\\x{4e00}-\\x{9fff}]', '', 'g'))
       |      / greatest(length($src), 1) AS cjk
       |  FROM h),
       |s$sfx AS (SELECT doc_id, cjk,
       |    len(list_filter(toks, t -> t IN ('the','and','of','to','in','is','you','that','it','for','a'))) / greatest(len(toks),1) AS s_en,
       |    len(list_filter(toks, t -> t IN ('der','die','und','das','ist','nicht','mit','ein','zu','von'))) / greatest(len(toks),1) AS s_de,
       |    len(list_filter(toks, t -> t IN ('el','la','de','que','y','en','un','para','con','por'))) / greatest(len(toks),1) AS s_es,
       |    len(list_filter(toks, t -> t IN ('le','la','de','et','les','des','une','pour','que','dans'))) / greatest(len(toks),1) AS s_fr
       |  FROM b$sfx),
       |p$sfx AS (SELECT doc_id,
       |    CASE WHEN cjk > 0.3 THEN 'zh'
       |         WHEN greatest(s_en, s_de, s_es, s_fr) > 0.0 THEN
       |           CASE WHEN s_en >= greatest(s_de, s_es, s_fr) THEN 'en'
       |                WHEN s_de >= greatest(s_es, s_fr) THEN 'de'
       |                WHEN s_es >= s_fr THEN 'es' ELSE 'fr' END
       |         ELSE 'und' END AS pred$sfx
       |  FROM s$sfx)""".stripMargin

  private def x31OracleSql: String =
    s"""WITH raw AS (SELECT doc_id, lang, text FROM documents),
       |nx AS (SELECT r.doc_id, r.lang,
       |    r.text || ' ' || COALESCE(n.text, r.text) AS mtext
       |  FROM raw r LEFT JOIN raw n ON n.doc_id = r.doc_id + 1),
       |h AS (SELECT doc_id, lang,
       |    substr(mtext, 1, length(mtext) // 2) AS t1,
       |    substr(mtext, length(mtext) // 2 + 1) AS t2
       |  FROM nx),
       |${langPredCtes("1", "t1")},
       |${langPredCtes("2", "t2")}
       |SELECT h.doc_id, h.lang, p1.pred1 AS lang_h1, p2.pred2 AS lang_h2,
       |  p1.pred1 = p2.pred2 AS consistent
       |FROM h JOIN p1 USING (doc_id) JOIN p2 USING (doc_id)
       |ORDER BY h.doc_id""".stripMargin

  /** e12 oracle helpers: the e3 iteration template with a NAME SUFFIX
    * so two full fit chains (init salts "" and "b") coexist in one
    * WITH, then the contingency/ARI arithmetic in exact integers. */
  private def e12IterSql(i: Int, x: String): String = {
    val (prev, a, m, c) = (s"c${i - 1}$x", s"a$i$x", s"m$i$x", s"c$i$x")
    s"""$a AS (SELECT vec_id, v, cid AS cell FROM (
       |    SELECT e.vec_id, e.v, c.cid,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
       |        list_inner_product(c.cv, c.cv) -
       |        2 * list_inner_product(e.v, c.cv) ASC, c.cid ASC) AS rn
       |    FROM emb e CROSS JOIN $prev c) t WHERE rn = 1),
       |$m AS (SELECT cell, list(m ORDER BY dim) AS cv FROM (
       |    SELECT a.cell, d.dim, ROUND(AVG(a.v[d.dim]), 6) AS m
       |    FROM $a a CROSS JOIN dims d GROUP BY a.cell, d.dim) t GROUP BY cell),
       |$c AS (SELECT p.cid, COALESCE(m.cv, p.cv) AS cv
       |  FROM $prev p LEFT JOIN $m m ON m.cell = p.cid)""".stripMargin
  }

  private def e12ChainSql(x: String, salt: String): String =
    s"""c0$x AS (SELECT ROW_NUMBER() OVER (ORDER BY
       |      md5('$salt' || CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cid,
       |    v AS cv
       |  FROM (SELECT vec_id, v FROM emb
       |        ORDER BY md5('$salt' || CAST(vec_id AS VARCHAR)), vec_id
       |        LIMIT 8) t),
       |${(1 to 3).map(i => e12IterSql(i, x)).mkString(",\n")}""".stripMargin

  private def e12FinSql(x: String, cCol: String): String =
    s"""fin$x AS (SELECT vec_id, cid AS $cCol FROM (
       |    SELECT e.vec_id, c.cid,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
       |        list_inner_product(c.cv, c.cv) -
       |        2 * list_inner_product(e.v, c.cv) ASC, c.cid ASC) AS rn
       |    FROM emb e CROSS JOIN c3$x c) t WHERE rn = 1)""".stripMargin

  private def e12OracleSql: String =
    s"""WITH emb AS (SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |dims AS (SELECT UNNEST(range(1, 65)) AS dim),
       |${e12ChainSql("xa", "")},
       |${e12ChainSql("xb", "b")},
       |${e12FinSql("xa", "ca")},
       |${e12FinSql("xb", "cb")},
       |cont AS (SELECT a.ca, b.cb, COUNT(*) AS n
       |  FROM finxa a JOIN finxb b ON a.vec_id = b.vec_id GROUP BY 1, 2),
       |sagg AS (SELECT SUM(n * (n - 1) // 2) AS s, SUM(n) AS nn,
       |    COUNT(DISTINCT ca) AS k_a, COUNT(DISTINCT cb) AS k_b FROM cont),
       |aagg AS (SELECT SUM(t * (t - 1) // 2) AS ac
       |  FROM (SELECT SUM(n) AS t FROM cont GROUP BY ca)),
       |bagg AS (SELECT SUM(t * (t - 1) // 2) AS bc
       |  FROM (SELECT SUM(n) AS t FROM cont GROUP BY cb))
       |SELECT CAST(nn AS BIGINT) AS n_points, k_a, k_b,
       |  CAST(s AS BIGINT) AS sum_comb, CAST(ac AS BIGINT) AS a_comb,
       |  CAST(bc AS BIGINT) AS b_comb,
       |  (CAST(s AS DOUBLE) - CAST(ac * bc AS DOUBLE)
       |      / CAST(nn * (nn - 1) // 2 AS DOUBLE))
       |  / (CAST(ac + bc AS DOUBLE) / 2.0 - CAST(ac * bc AS DOUBLE)
       |      / CAST(nn * (nn - 1) // 2 AS DOUBLE)) AS ari
       |FROM sagg, aagg, bagg""".stripMargin

  private val e3OracleSql: String =
    s"""WITH $e3CtesSql,
       |fin AS (SELECT vec_id, cid AS cluster, d, ipvv FROM (
       |    SELECT e.vec_id, c.cid,
       |      list_inner_product(c.cv, c.cv) -
       |      2 * list_inner_product(e.v, c.cv) AS d,
       |      list_inner_product(e.v, e.v) AS ipvv,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
       |        list_inner_product(c.cv, c.cv) -
       |        2 * list_inner_product(e.v, c.cv) ASC, c.cid ASC) AS rn
       |    FROM emb e CROSS JOIN c3 c) t WHERE rn = 1)
       |SELECT vec_id, cluster,
       |  ROUND(sqrt(GREATEST(0.0, d + ipvv)), 6) AS dist
       |FROM fin ORDER BY vec_id""".stripMargin

  /** e9 oracle: e3's Lloyd chain + every (vector, centroid) distance
    * ranked (d asc, cid asc); rank 1 = own cluster, rank 2 = nearest
    * other; identical silhouette arithmetic and decimal-exact means. */
  private val e9OracleSql: String =
    s"""WITH $e3CtesSql,
       |ds AS (SELECT e.vec_id, c.cid,
       |    list_inner_product(c.cv, c.cv) -
       |      2 * list_inner_product(e.v, c.cv) AS d,
       |    list_inner_product(e.v, e.v) AS ipvv,
       |    ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
       |      list_inner_product(c.cv, c.cv) -
       |      2 * list_inner_product(e.v, c.cv) ASC, c.cid ASC) AS rn
       |  FROM emb e CROSS JOIN c3 c),
       |ab AS (SELECT o.vec_id, o.cid AS cluster,
       |    sqrt(GREATEST(0.0, o.d + o.ipvv)) AS a,
       |    sqrt(GREATEST(0.0, s.d + s.ipvv)) AS b
       |  FROM (SELECT * FROM ds WHERE rn = 1) o
       |  JOIN (SELECT * FROM ds WHERE rn = 2) s ON o.vec_id = s.vec_id),
       |sv AS (SELECT cluster,
       |    ROUND(CASE WHEN GREATEST(a, b) = 0 THEN 0.0
       |          ELSE (b - a) / GREATEST(a, b) END, 6) AS sil
       |  FROM ab)
       |SELECT cluster, COUNT(*) AS n,
       |  CAST(SUM(CAST(sil AS DECIMAL(20,6))) AS DOUBLE) / COUNT(*)
       |    AS mean_sil
       |FROM sv GROUP BY cluster ORDER BY cluster""".stripMargin

  /** p1 oracle body (shared with p2, which filters to batch ids). */
  private val p1OracleSql: String =
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL SELECT doc_id + 1000000, text FROM documents),
      |dup AS (SELECT doc_id, md5(text) AS dg FROM corpus),
      |keep0 AS (SELECT dg, MIN(doc_id) AS keeper FROM dup GROUP BY dg),
      |dupv AS (SELECT d.doc_id, d.doc_id <> k.keeper AS is_dup,
      |    CASE WHEN d.doc_id <> k.keeper THEN k.keeper END AS dup_of
      |  FROM dup d JOIN keep0 k USING (dg)),
      |cg AS (SELECT doc_id,
      |    list_distinct(list_transform(
      |      range(1, CAST(greatest(len(string_split(nt, ' ')) - 12, 1) AS BIGINT) + 1),
      |      i -> array_to_string((string_split(nt, ' '))[CAST(i AS INT):CAST(i AS INT)+12], ' '))) AS sh
      |  FROM (SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS nt
      |        FROM corpus)),
      |eg AS (SELECT DISTINCT unnest(sh) AS g FROM cg WHERE doc_id < 20),
      |docg AS (SELECT doc_id, unnest(sh) AS g FROM cg),
      |hits AS (SELECT DISTINCT doc_id FROM docg JOIN eg USING (g)),
      |q AS (SELECT doc_id,
      |    CAST(len(string_split_regex(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS BIGINT) AS n_tokens,
      |    least(len(string_split_regex(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) / 100.0, 1.0) * 0.4
      |     + (length(regexp_replace(text, '[^A-Za-z]', '', 'g')) / greatest(length(text), 1)) * 0.4
      |     + least(len(list_filter(string_split_regex(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
      |          t -> t IN ('the','and','of','to','in','is','you','that','it','for','a')))
      |        / greatest(len(string_split_regex(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')), 1) * 5.0, 1.0) * 0.2
      |     AS quality_score
      |  FROM corpus)
      |SELECT v.doc_id, v.is_dup, v.dup_of,
      |  h.doc_id IS NOT NULL AS contaminated,
      |  q.n_tokens, q.quality_score,
      |  (NOT v.is_dup AND h.doc_id IS NULL AND q.quality_score >= 0.5
      |   AND q.n_tokens BETWEEN 20 AND 2000) AS keep,
      |  CASE WHEN v.is_dup THEN 'dup'
      |       WHEN h.doc_id IS NOT NULL THEN 'contaminated'
      |       WHEN q.quality_score < 0.5 THEN 'low_quality'
      |       WHEN q.n_tokens NOT BETWEEN 20 AND 2000 THEN 'length' END AS drop_reason
      |FROM dupv v LEFT JOIN hits h USING (doc_id) JOIN q USING (doc_id)
      |ORDER BY v.doc_id""".stripMargin

  /** p3 oracle: p1's proven verdict replay nested as a CTE, x9's quota
    * ranking, x12's recursive greedy-packing replay at capacity 512,
    * and the same manifest fold — the full shard build certified by
    * composition of proven parts. */
  private val p3OracleSql: String =
    s"""WITH RECURSIVE keepset AS (
       |$p1OracleSql
       |),
       |corp AS (SELECT doc_id, source FROM documents
       |  UNION ALL SELECT doc_id + 1000000, source FROM documents),
       |pbase AS (SELECT k.doc_id, c.source, CAST(k.n_tokens AS INT) AS n_tok
       |  FROM keepset k JOIN corp c ON c.doc_id = k.doc_id WHERE k.keep),
       |q AS (SELECT doc_id FROM (
       |    SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY source
       |      ORDER BY CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS DOUBLE) ASC,
       |        doc_id ASC) AS rk
       |    FROM pbase) t WHERE rk <= 12),
       |sel AS (SELECT b.doc_id, b.source, b.n_tok,
       |    CAST(row_number() OVER (PARTITION BY b.source
       |      ORDER BY b.doc_id) AS INT) AS rn
       |  FROM pbase b JOIN q USING (doc_id)),
       |rec AS (
       |  SELECT source, doc_id, n_tok, rn, CAST(0 AS BIGINT) AS bin_id,
       |    n_tok AS fill, CAST(0 AS INT) AS bin_pos
       |  FROM sel WHERE rn = 1
       |  UNION ALL
       |  SELECT b.source, b.doc_id, b.n_tok, b.rn,
       |    CAST(CASE WHEN r.fill + b.n_tok <= 512 THEN r.bin_id
       |      ELSE r.bin_id + 1 END AS BIGINT),
       |    CAST(CASE WHEN r.fill + b.n_tok <= 512 THEN r.fill + b.n_tok
       |      ELSE b.n_tok END AS INT),
       |    CAST(CASE WHEN r.fill + b.n_tok <= 512 THEN r.bin_pos + 1
       |      ELSE 0 END AS INT)
       |  FROM rec r JOIN sel b ON b.source = r.source AND b.rn = r.rn + 1)
       |SELECT source, bin_id, COUNT(*) AS n_docs,
       |  CAST(SUM(n_tok) AS BIGINT) AS fill,
       |  CAST(GREATEST(512 - SUM(n_tok), 0) AS BIGINT) AS waste,
       |  md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY bin_pos))
       |    AS ids_md5
       |FROM rec GROUP BY source, bin_id ORDER BY source, bin_id""".stripMargin

  /** x33 oracle: the first-occurrence trick replayed from first
    * principles — per-token MIN(doc_id), re-bucketed with the same
    * exact integer DIV, cumulative window over the 20 bucket rows.
    * Every value is an exact integer on both engines. */
  private def x33OracleSql: String =
    s"""WITH base AS (SELECT doc_id, string_split($normSql, ' ') AS toks
       |  FROM documents),
       |b AS (SELECT MIN(doc_id) AS lo, MAX(doc_id) AS hi FROM base),
       |wb AS (SELECT doc_id, toks,
       |    LEAST(19, ((doc_id - lo) * 20) // (hi - lo + 1)) AS bucket
       |  FROM base, b),
       |ds AS (SELECT bucket, COUNT(*) AS n_docs,
       |    CAST(SUM(len(toks)) AS BIGINT) AS n_tokens
       |  FROM wb GROUP BY bucket),
       |fs AS (SELECT tok, MIN(doc_id) AS fd FROM
       |    (SELECT doc_id, unnest(toks) AS tok FROM wb) GROUP BY tok),
       |nt AS (SELECT LEAST(19, ((fd - lo) * 20) // (hi - lo + 1)) AS bucket,
       |    COUNT(*) AS new_tokens FROM fs, b GROUP BY 1),
       |j AS (SELECT ds.bucket, ds.n_docs, ds.n_tokens,
       |    COALESCE(nt.new_tokens, 0) AS new_tokens
       |  FROM ds LEFT JOIN nt ON ds.bucket = nt.bucket)
       |SELECT bucket, n_docs, n_tokens, new_tokens,
       |  CAST(SUM(n_docs) OVER w AS BIGINT) AS docs_cum,
       |  CAST(SUM(n_tokens) OVER w AS BIGINT) AS tokens_cum,
       |  CAST(SUM(new_tokens) OVER w AS BIGINT) AS vocab_cum
       |FROM j WINDOW w AS (ORDER BY bucket
       |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |ORDER BY bucket""".stripMargin

  /** e13 oracle: the moment identity replayed on the same 1e-6 integer
    * grid (e5's FLOOR quantization device) — per-label exact HUGEINT
    * sums Σq_d, Σ‖q‖², then 2·(n·S2 − Σ_d(Σq_d)²)/(n(n−1))/10¹² with
    * the identical terminal IEEE division sequence. */
  private def e13OracleSql: String = {
    val dim = 64
    val qDefs = (0 until dim).map(i =>
      s"CAST(FLOOR(CAST(embedding[${i + 1}] AS DOUBLE) * 1000000.0) " +
        s"AS HUGEINT) AS q$i").mkString(",\n    ")
    val sSums = (0 until dim).map(i => s"SUM(q$i) AS s$i").mkString(", ")
    val s2Terms = (0 until dim).map(i => s"q$i * q$i").mkString(" + ")
    val ssTerms = (0 until dim).map(i => s"s$i * s$i").mkString(" + ")
    val sSumsAll = (0 until dim).map(i => s"SUM(s$i) AS s$i").mkString(", ")
    s"""WITH q AS (SELECT CAST(label AS VARCHAR) AS label,
       |    $qDefs
       |  FROM embeddings),
       |lab AS (SELECT label, CAST(COUNT(*) AS HUGEINT) AS n, $sSums,
       |    SUM($s2Terms) AS ssq
       |  FROM q GROUP BY label),
       |alab AS (SELECT 'all' AS label, CAST(SUM(n) AS HUGEINT) AS n,
       |    $sSumsAll, SUM(ssq) AS ssq FROM lab),
       |u AS (SELECT * FROM lab UNION ALL SELECT * FROM alab)
       |SELECT label, CAST(n AS BIGINT) AS n_vecs,
       |  CASE WHEN n > 1 THEN
       |    CAST((n * ssq - ($ssTerms)) * 2 AS DOUBLE) /
       |      CAST(n * (n - 1) AS DOUBLE) / 1000000000000.0
       |  END AS mean_sq_dist
       |FROM u ORDER BY label""".stripMargin
  }

  /** d17 oracle: the identical 8-term polynomial boundary rule (the
    * constants interpolate from [[Dedup.CdcConst]] — one source of
    * truth), chunks cut by LAG over the boundary list, digests
    * re-derived from raw substrings. */
  private def d17OracleSql: String = {
    val P = graft.operators.Dedup.CdcConst.pows
    val terms = (0 until 8).map(k =>
      s"CAST(ascii(substr(t, CAST(i - ${7 - k} AS INT), 1)) AS BIGINT)" +
        s" * ${P(k)}")
      .mkString(" +\n        ")
    s"""WITH corpus AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL SELECT doc_id + 1000000, text || ' zz qq' FROM documents),
       |base AS (SELECT doc_id,
       |    trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
       |  FROM corpus),
       |b2 AS (SELECT doc_id, t, len(t) AS ln FROM base),
       |pos AS (SELECT doc_id, t, ln, unnest(range(8, ln + 1)) AS i
       |  FROM b2 WHERE ln >= 8),
       |bnd AS (SELECT doc_id, i FROM pos
       |  WHERE ((
       |        $terms) % ${graft.operators.Dedup.CdcConst.M}) % 64 = 0),
       |bl AS (SELECT doc_id, list_sort(list(i)) AS bs FROM bnd
       |  GROUP BY doc_id),
       |wb AS (SELECT b2.doc_id, b2.t,
       |    list_sort(list_distinct(
       |      list_append(COALESCE(bl.bs, []), CAST(b2.ln AS BIGINT)))) AS bs2
       |  FROM b2 LEFT JOIN bl ON b2.doc_id = bl.doc_id),
       |ch0 AS (SELECT doc_id, t, unnest(bs2) AS b FROM wb),
       |ch1 AS (SELECT doc_id, t, b,
       |    COALESCE(LAG(b) OVER (PARTITION BY doc_id ORDER BY b), 0) + 1 AS s
       |  FROM ch0),
       |chunks AS (SELECT doc_id,
       |    md5(substr(t, CAST(s AS INT), CAST(b - s + 1 AS INT))) AS digest
       |  FROM ch1),
       |occ AS (SELECT digest, COUNT(DISTINCT doc_id) AS n_docs
       |  FROM chunks GROUP BY digest)
       |SELECT c.doc_id, COUNT(*) AS n_chunks,
       |  COUNT(CASE WHEN o.n_docs > 1 THEN 1 END) AS n_shared,
       |  ROUND(COUNT(CASE WHEN o.n_docs > 1 THEN 1 END) / COUNT(*), 6)
       |    AS shared_frac
       |FROM chunks c JOIN occ o ON c.digest = o.digest
       |GROUP BY c.doc_id ORDER BY c.doc_id""".stripMargin
  }

  /** e15 oracle: exact HUGEINT slice sums on the same grid, then the
    * identical left-to-right 64-term mean/L2/cosine chains. */
  private def e15OracleSql: String = {
    val dim = 64
    val qDefs = (0 until dim).map(i =>
      s"CAST(FLOOR(CAST(embedding[${i + 1}] AS DOUBLE) * 1000000.0) " +
        s"AS HUGEINT) AS q$i").mkString(",\n    ")
    val sSums = (0 until dim).map(i => s"SUM(q$i) AS s$i").mkString(", ")
    def mean(p: Char, n: String, i: Int): String =
      s"CAST($p$i AS DOUBLE) / CAST($n AS DOUBLE) / 1000000.0"
    val l2 = (0 until dim).map(i =>
      s"(${mean('a', "n_a", i)} - ${mean('b', "n_b", i)}) * " +
        s"(${mean('a', "n_a", i)} - ${mean('b', "n_b", i)})")
      .mkString(" +\n    ")
    val dot = (0 until dim).map(i =>
      s"${mean('a', "n_a", i)} * ${mean('b', "n_b", i)}").mkString(" + ")
    val na2 = (0 until dim).map(i =>
      s"${mean('a', "n_a", i)} * ${mean('a', "n_a", i)}").mkString(" + ")
    val nb2 = (0 until dim).map(i =>
      s"${mean('b', "n_b", i)} * ${mean('b', "n_b", i)}").mkString(" + ")
    val aCols = (0 until dim).map(i => s"s$i AS a$i").mkString(", ")
    val bCols = (0 until dim).map(i => s"s$i AS b$i").mkString(", ")
    s"""WITH q AS (SELECT CAST(label AS VARCHAR) AS label,
       |    vec_id % 2 = 0 AS in_a,
       |    $qDefs
       |  FROM embeddings),
       |g AS (SELECT label, in_a, CAST(COUNT(*) AS HUGEINT) AS n, $sSums
       |  FROM q GROUP BY label, in_a),
       |a AS (SELECT label, n AS n_a, $aCols FROM g WHERE in_a),
       |b AS (SELECT label, n AS n_b, $bCols FROM g WHERE NOT in_a)
       |SELECT a.label, CAST(n_a AS BIGINT) AS n_a,
       |  CAST(n_b AS BIGINT) AS n_b,
       |  ROUND($l2, 6) + 0.0 AS l2_sq,
       |  ROUND(($dot) / (sqrt($na2) * sqrt($nb2)), 6) + 0.0 AS cos_means
       |FROM a JOIN b ON a.label = b.label ORDER BY a.label""".stripMargin
  }

  /** e20: the identical grid pipeline — per-row left-assoc norm² fold
    * of exact float×float products, one sqrt, ⌊û·10⁶⌋ longs, exact
    * HUGEINT corpus sums, then the pinned terminal fold/divisions. */
  private def e20OracleSql: String = {
    val dim = 64
    val xDefs = (0 until dim).map(i =>
      s"CAST(embedding[${i + 1}] AS DOUBLE) AS x$i").mkString(",\n    ")
    val norm2 = (0 until dim).map(i => s"x$i * x$i").mkString(" + ")
    val uDefs = (0 until dim).map(i =>
      s"CAST(FLOOR(x$i / SQRT(norm2) * 1000000.0) AS BIGINT) AS u$i")
      .mkString(",\n    ")
    val rowSS = (0 until dim).map(i => s"u$i * u$i").mkString(" + ")
    val sSums = (0 until dim).map(i =>
      s"SUM(CAST(u$i AS HUGEINT)) AS s$i").mkString(", ")
    val fold = (0 until dim).map(i =>
      s"(CAST(s$i AS DOUBLE) / 1000000.0) * (CAST(s$i AS DOUBLE) / 1000000.0)")
      .mkString(" +\n    ")
    s"""WITH e AS (SELECT
       |    $xDefs
       |  FROM embeddings),
       |n2 AS (SELECT *, $norm2 AS norm2 FROM e),
       |q AS (SELECT
       |    CAST(FLOOR(SQRT(norm2) * 1000000.0) AS HUGEINT) AS qn,
       |    $uDefs
       |  FROM n2 WHERE norm2 > 0.0),
       |g AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n, SUM(qn) AS sn,
       |    SUM(CAST($rowSS AS HUGEINT)) AS ssq, $sSums
       |  FROM q)
       |SELECT CAST(n AS BIGINT) AS n_used,
       |  ROUND(CAST(sn AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0, 6) + 0.0
       |    AS mean_norm,
       |  ROUND(CASE WHEN n > 1 THEN ($fold
       |    - CAST(ssq AS DOUBLE) / 1e12)
       |    / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) END, 6) + 0.0
       |    AS mean_cos
       |FROM g""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "x36_tokenizer_fertility" -> x36OracleSql,
    "e15_embed_drift" -> e15OracleSql,
    "e20_anisotropy" -> e20OracleSql,
    "x41_ndcg" -> x41OracleSql,
    "d17_cdc_chunks" -> d17OracleSql,
    // d18: the identical min-setter replay — bit state before doc d is
    // "min id touching the position < d"; fill = bits/2^13 (EXACT
    // power-of-two division), pred_fpr = ((f·f)·f) pinned left-assoc
    "d18_bloom_dedup" ->
      """WITH pool AS (SELECT doc_id, source, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, source, text FROM documents),
        |d AS (SELECT doc_id AS id, source,
        |    md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS digest
        |  FROM pool),
        |hj AS (SELECT unnest(range(0, 3)) AS j),
        |pos AS (SELECT id,
        |    CAST('0x' || substr(md5(CAST(j AS VARCHAR) || '|' || digest),
        |      1, 15) AS BIGINT) % 8192 AS pos
        |  FROM d, hj),
        |setters AS (SELECT pos, MIN(id) AS first_id FROM pos GROUP BY pos),
        |fl AS (SELECT p.id, MAX(s.first_id) < p.id AS flagged
        |  FROM pos p JOIN setters s ON p.pos = s.pos GROUP BY p.id),
        |fd AS (SELECT digest, MIN(id) AS first_dup FROM d GROUP BY digest),
        |v AS (SELECT d.id, d.source, fd.first_dup < d.id AS is_dup,
        |    fl.flagged
        |  FROM d JOIN fd ON d.digest = fd.digest JOIN fl ON fl.id = d.id),
        |ps AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(COUNT(CASE WHEN is_dup THEN 1 END) AS BIGINT)
        |      AS n_true_dup,
        |    CAST(COUNT(CASE WHEN flagged THEN 1 END) AS BIGINT)
        |      AS n_flagged,
        |    CAST(COUNT(CASE WHEN flagged AND NOT is_dup THEN 1 END)
        |      AS BIGINT) AS n_false_pos
        |  FROM v GROUP BY source),
        |b AS (SELECT CAST(COUNT(*) AS BIGINT) AS bits_set FROM setters)
        |SELECT source, n_docs, n_true_dup, n_flagged, n_false_pos,
        |  CASE WHEN n_docs > n_true_dup THEN CAST(n_false_pos AS DOUBLE)
        |    / CAST(n_docs - n_true_dup AS DOUBLE) END AS false_pos_rate,
        |  bits_set,
        |  CAST(bits_set AS DOUBLE) / 8192.0 AS fill_frac,
        |  CAST(bits_set AS DOUBLE) / 8192.0
        |    * (CAST(bits_set AS DOUBLE) / 8192.0)
        |    * (CAST(bits_set AS DOUBLE) / 8192.0) AS pred_fpr
        |FROM ps, b ORDER BY source""".stripMargin,
    // m8: block-walk results recomputed arithmetically — member i has
    // size (id%1000) + 300i + 37; n_bytes = headers + data blocks + the
    // 1024-byte terminator, all in 512-byte units
    "m8_tar_parse" ->
      """WITH d AS (SELECT doc_id, doc_id % 4 + 1 AS n, doc_id % 1000 AS b
        |  FROM documents),
        |f AS (SELECT doc_id, n, b, unnest(range(0, n)) AS i FROM d),
        |per AS (SELECT doc_id, b + 300 * i + 37 AS sz FROM f),
        |ag AS (SELECT doc_id, COUNT(*) AS n_files,
        |    CAST(SUM(sz) AS BIGINT) AS total_size,
        |    CAST(SUM((sz + 511) // 512) AS BIGINT) AS data_blocks
        |  FROM per GROUP BY doc_id)
        |SELECT doc_id, 'tar' AS fmt,
        |  (n_files + data_blocks) * 512 + 1024 AS n_bytes,
        |  n_files, total_size, data_blocks
        |FROM ag ORDER BY doc_id""".stripMargin,
    // m9: every field recomputed arithmetically from the planted
    // geometry — 13 header+LSD + 3·2^(e+1) GCT + 8 GCE + optional
    // (4+L) comment + per frame (12 + data + ceil(data/255) length
    // prefixes) + 1 trailer
    "m9_gif_parse" ->
      """WITH d AS (SELECT doc_id, doc_id % 2 = 0 AS v89,
        |    CAST(doc_id % 320 + 1 AS INT) AS w,
        |    CAST(doc_id % 200 + 1 AS INT) AS h,
        |    CAST(doc_id % 4 AS INT) AS e, doc_id % 3 + 1 AS nf,
        |    doc_id % 5 < 2 AS wc, doc_id % 7 + 1 AS cl
        |  FROM documents),
        |f AS (SELECT doc_id, unnest(range(0, nf)) AS fi,
        |    doc_id % 200 + 13 AS base FROM d),
        |per AS (SELECT doc_id, base + 40 * fi AS df FROM f),
        |ag AS (SELECT doc_id, CAST(COUNT(*) AS INT) AS n_frames,
        |    CAST(SUM(df) AS BIGINT) AS data_bytes,
        |    CAST(SUM((df + 254) // 255) AS BIGINT) AS n_subblocks,
        |    CAST(SUM(12 + df + (df + 254) // 255) AS BIGINT)
        |      AS frame_bytes
        |  FROM per GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CASE WHEN v89 THEN 'gif89' ELSE 'gif87' END AS fmt,
        |  CAST(13 + 3 * (1 << (e + 1)) + 8
        |    + CASE WHEN wc THEN 4 + cl ELSE 0 END
        |    + frame_bytes + 1 AS BIGINT) AS n_bytes,
        |  w AS width, h AS height,
        |  CAST(1 << (e + 1) AS INT) AS gct_entries, n_frames,
        |  CAST(CASE WHEN wc THEN 2 ELSE 1 END AS INT) AS n_exts,
        |  n_subblocks, data_bytes
        |FROM d JOIN ag ON d.doc_id = ag.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    // m10: every field recomputed arithmetically from the planted
    // geometry — 4 magic + 38 STREAMINFO + optional (4 + 4+vl+4)
    // vorbis + optional (4 + pl) padding + fl frame tail; duration is
    // exact integral division of positive ints (Spark / == DuckDB //)
    "m10_flac_parse" ->
      """WITH d AS (SELECT doc_id,
        |    CAST(8000 + doc_id % 40001 AS INT) AS sr,
        |    CAST(doc_id % 8 + 1 AS INT) AS ch,
        |    CAST(doc_id % 17 + 8 AS INT) AS bps,
        |    doc_id % 100000 + 1000 AS ts,
        |    CASE WHEN doc_id % 2 = 0 THEN doc_id % 20 + 1 ELSE 0 END AS vl,
        |    doc_id % 3 = 0 AS wp,
        |    doc_id % 64 AS pl, doc_id % 300 AS fl
        |  FROM documents)
        |SELECT doc_id, 'flac' AS fmt,
        |  CAST(4 + 38 + CASE WHEN vl > 0 THEN 4 + 4 + vl + 4 ELSE 0 END
        |    + CASE WHEN wp THEN 4 + pl ELSE 0 END + fl AS BIGINT)
        |    AS n_bytes,
        |  sr AS sample_rate, ch AS channels, bps AS bits_per_sample,
        |  CAST(ts AS BIGINT) AS total_samples,
        |  CAST(ts * 1000 // sr AS BIGINT) AS duration_ms,
        |  CAST(1 + CASE WHEN vl > 0 THEN 1 ELSE 0 END
        |    + CASE WHEN wp THEN 1 ELSE 0 END AS INT) AS n_blocks,
        |  CAST(CASE WHEN wp THEN pl ELSE 0 END AS BIGINT) AS padding_bytes,
        |  CAST(fl AS BIGINT) AS frame_bytes
        |FROM d ORDER BY doc_id""".stripMargin,
    // m11: every offset/byte count recomputed arithmetically — body_i
    // = digits(i) + digits(L_i) + L_i + 45 (the fixed framing), xref
    // at 9 + Σbody, file = xref + 5 + (3 + digits(M)) + 20·M +
    // (30 + digits(M)) + (11 + digits(xref)) + 5
    "m11_pdf_xref" ->
      """WITH d AS (SELECT doc_id, CAST(doc_id % 5 + 2 AS INT) AS n,
        |    doc_id % 97 + 10 AS lb FROM documents),
        |obj AS (SELECT doc_id, n, lb,
        |    CAST(unnest(range(1, n + 1)) AS BIGINT) AS i FROM d),
        |ob AS (SELECT doc_id, n, i, lb + i AS L,
        |    length(CAST(i AS VARCHAR)) + length(CAST(lb + i AS VARCHAR))
        |      + (lb + i) + 45 AS body
        |  FROM obj),
        |ag AS (SELECT doc_id, n, CAST(SUM(body) AS BIGINT) AS bodies,
        |    CAST(SUM(L) AS BIGINT) AS stream_bytes
        |  FROM ob GROUP BY doc_id, n)
        |SELECT doc_id, 'pdf' AS fmt,
        |  CAST(9 + bodies + 5 + 3 + length(CAST(n + 1 AS VARCHAR))
        |    + 20 * (n + 1) + 30 + length(CAST(n + 1 AS VARCHAR))
        |    + 11 + length(CAST(9 + bodies AS VARCHAR)) + 5 AS BIGINT)
        |    AS n_bytes,
        |  n AS n_objects,
        |  CAST(9 + bodies AS BIGINT) AS xref_offset,
        |  stream_bytes, n AS n_verified,
        |  CAST(n + 1 AS INT) AS size_entry
        |FROM ag ORDER BY doc_id""".stripMargin,
    // x35: freq-of-freq recompute over a dense 1..10 grid (missing r
    // rows must read N_r = 0, and N_{r+1} comes from the GRID lead —
    // a sparse lead would skip over absent counts)
    "x35_good_turing" ->
      s"""WITH tok AS (SELECT unnest(string_split($normSql, ' ')) AS tok
        |  FROM documents),
        |tc AS (SELECT tok, COUNT(*) AS c FROM tok GROUP BY tok),
        |st AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM tc),
        |ff AS (SELECT c AS r, COUNT(*) AS n_r FROM tc
        |  WHERE c <= 10 GROUP BY c),
        |grid AS (SELECT unnest(range(1, 11)) AS r),
        |j AS (SELECT grid.r, COALESCE(ff.n_r, 0) AS n_r
        |  FROM grid LEFT JOIN ff ON grid.r = ff.r),
        |l AS (SELECT r, n_r,
        |    COALESCE(LEAD(n_r, 1) OVER (ORDER BY r), 0) AS n_r1
        |  FROM j)
        |SELECT l.r, l.n_r,
        |  ROUND(l.r * l.n_r / st.n, 6) AS mass_share,
        |  CASE WHEN l.n_r > 0
        |    THEN ROUND((l.r + 1) * l.n_r1 / l.n_r, 6) END AS r_star
        |FROM l, st ORDER BY l.r""".stripMargin,
    // x34: raw-string-gram recompute (first principles vs the engine's
    // hashed pipeline — agreement is the no-collision-loss certificate);
    // short docs (< 3 tokens) contribute one partial shingle, matching
    // TextHashKernels.wordShingles
    "x34_source_novelty" ->
      s"""WITH base AS (SELECT source, string_split($normSql, ' ') AS toks
        |  FROM documents),
        |b2 AS (SELECT source, toks, len(toks) AS n FROM base),
        |gr AS (SELECT source, unnest(CASE WHEN n >= 3 THEN
        |      list_transform(range(1, CAST(n AS BIGINT) - 1),
        |        i -> array_to_string(toks[CAST(i AS INT):CAST(i AS INT) + 2], ' '))
        |    ELSE [array_to_string(toks, ' ')] END) AS gram
        |  FROM b2),
        |g AS (SELECT DISTINCT source, gram FROM gr),
        |st AS (SELECT gram, COUNT(*) AS n_src FROM g GROUP BY gram)
        |SELECT g.source, COUNT(*) AS n_grams,
        |  COUNT(CASE WHEN st.n_src = 1 THEN 1 END) AS n_unique,
        |  ROUND(COUNT(CASE WHEN st.n_src = 1 THEN 1 END) / COUNT(*), 6)
        |    AS novelty
        |FROM g JOIN st USING (gram) GROUP BY g.source
        |ORDER BY g.source""".stripMargin,
    "e14_pca_variance" -> e14OracleSql,
    // p5: the identical integer solver — HUGEINT products, // floor
    // division (≡ Spark div on positives), BIGINT outputs, one
    // exactly-representable terminal IEEE division for epochs
    "p5_mixing_plan" ->
      s"""WITH d AS (SELECT source, CAST($qToksSql AS BIGINT) AS n_tokens
         |  FROM documents),
         |av AS (SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS avail
         |  FROM d GROUP BY source),
         |au AS (SELECT source, avail,
         |    CAST(regexp_extract(source, '(\\d+)', 1) AS BIGINT) % 4 + 1 AS u
         |  FROM av),
         |tt AS (SELECT CAST(SUM(u) AS BIGINT) AS u_tot FROM au),
         |tc AS (SELECT au.*, tt.u_tot,
         |    CAST((CAST(avail AS HUGEINT) * 4 * u_tot) // u AS BIGINT)
         |      AS t_cap
         |  FROM au, tt),
         |ts AS (SELECT MIN(t_cap) AS t_star FROM tc),
         |fin AS (SELECT tc.*, ts.t_star,
         |    CAST((CAST(u AS HUGEINT) * t_star) // u_tot AS BIGINT)
         |      AS alloc_tokens
         |  FROM tc, ts),
         |f2 AS (SELECT *,
         |    CAST((CAST(alloc_tokens AS HUGEINT) * 1000000) // avail
         |      AS BIGINT) AS epochs_e6
         |  FROM fin)
         |SELECT source, u AS weight_units, avail AS avail_tokens,
         |  alloc_tokens, epochs_e6,
         |  CAST(epochs_e6 AS DOUBLE) / 1000000.0 AS epochs,
         |  t_cap = t_star AS limiting
         |FROM f2 ORDER BY source""".stripMargin,
    "x33_vocab_growth" -> x33OracleSql,
    // x37: the kernel's term sum replayed declaratively — explode to
    // (doc, gram) counts, identical round-9 terms (x24's decimal-sum
    // device, order-free), nanos recovered exactly, the identical
    // two-IEEE-op bits derivation with the SAME pinned ln2 literal
    "x37_entropy" ->
      """WITH ch AS (SELECT doc_id, string_split(text, '') AS cl
        |  FROM documents),
        |ug AS (SELECT doc_id, unnest(cl) AS g FROM ch),
        |uc AS (SELECT doc_id, g, COUNT(*) AS c FROM ug GROUP BY 1, 2),
        |un AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n
        |  FROM uc GROUP BY 1),
        |ue AS (SELECT uc.doc_id,
        |    CAST(SUM(CAST(ROUND((c / n) * ln(c / n), 9) + 0.0
        |      AS DECIMAL(20,9))) * 1000000000 AS BIGINT) AS uni_nanos
        |  FROM uc JOIN un USING (doc_id) GROUP BY uc.doc_id),
        |bi AS (SELECT doc_id, cl,
        |    unnest(generate_series(1, len(cl) - 1)) AS i
        |  FROM ch WHERE len(cl) >= 2),
        |bg AS (SELECT doc_id,
        |    cl[CAST(i AS INT)] || cl[CAST(i AS INT) + 1] AS g FROM bi),
        |bc AS (SELECT doc_id, g, COUNT(*) AS c FROM bg GROUP BY 1, 2),
        |bn AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n
        |  FROM bc GROUP BY 1),
        |be AS (SELECT bc.doc_id,
        |    CAST(SUM(CAST(ROUND((c / n) * ln(c / n), 9) + 0.0
        |      AS DECIMAL(20,9))) * 1000000000 AS BIGINT) AS bi_nanos
        |  FROM bc JOIN bn USING (doc_id) GROUP BY bc.doc_id),
        |j AS (SELECT d.doc_id, CAST(length(d.text) AS INT) AS n_chars_m,
        |    COALESCE(ue.uni_nanos, 0) AS uni_nanos,
        |    COALESCE(be.bi_nanos, 0) AS bi_nanos
        |  FROM documents d LEFT JOIN ue USING (doc_id)
        |  LEFT JOIN be USING (doc_id))
        |SELECT doc_id, n_chars_m, uni_nanos, bi_nanos,
        |  CAST(uni_nanos AS DOUBLE) / -1.0e9 / 0.6931471805599453e0
        |    AS uni_bits,
        |  CAST(bi_nanos AS DOUBLE) / -1.0e9 / 0.6931471805599453e0
        |    AS bi_bits,
        |  CAST(uni_nanos AS DOUBLE) / -1.0e9 / 0.6931471805599453e0 < 3.5
        |    AS low_entropy
        |FROM j ORDER BY doc_id""".stripMargin,
    "e13_diversity" -> e13OracleSql,
    "p3_build_shard" -> p3OracleSql,
    // m5: IFD-walk results recomputed arithmetically — header 8 +
    // IFD0 (2 + n0·12 + 4, n0 = 3 + bits-tag on id%3=0) + thumbnail
    // IFD1 (30 bytes, 2 entries) on id%5≠0 + body
    // m7: footer-walk results recomputed arithmetically — entry i holds
    // base + 7i bytes (base = id%40+10), LFH 30 + name 6, CDE 46 + 6,
    // EOCD 22; cd_offset = Σ locals, integer // for the 7·n(n−1)/2 term
    "m7_zip_parse" ->
      """WITH d AS (SELECT doc_id, doc_id % 3 + 1 AS n,
        |    (doc_id % 3 + 1) * (doc_id % 40 + 10)
        |      + 7 * ((doc_id % 3 + 1) * (doc_id % 3) // 2) AS s
        |  FROM documents)
        |SELECT doc_id, 'zip' AS fmt,
        |  CAST(36 * n + s + 52 * n + 22 AS BIGINT) AS n_bytes,
        |  CAST(n AS INT) AS n_entries,
        |  CAST(s AS BIGINT) AS total_uncomp,
        |  CAST(36 * n + s AS BIGINT) AS cd_offset
        |FROM d ORDER BY doc_id""".stripMargin,
    // m6: box-tree results recomputed arithmetically — ftyp 20 + moov
    // (8 + mvhd 108 + trak 173 each) + mdat (8 + body); duration_ms =
    // duration/timescale exact because duration is planted as
    // base_ms × (timescale/1000); depth always 4 (moov→trak→mdia leaf)
    "m6_mp4_parse" ->
      """SELECT doc_id, 'mp4' AS fmt,
        |  CAST(20 + 8 + 108 + (doc_id % 2 + 1) * 173 + 8
        |    + octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  CAST(doc_id % 640 + 1 AS INT) AS width,
        |  CAST(doc_id % 480 + 1 AS INT) AS height,
        |  CAST(1000 * (doc_id % 5 + 1) AS INT) AS timescale,
        |  CAST(doc_id % 9000 + 1000 AS BIGINT) AS duration_ms,
        |  CAST(doc_id % 2 + 1 AS INT) AS n_tracks,
        |  CAST(4 + 5 * (doc_id % 2 + 1) AS INT) AS n_boxes,
        |  CAST(4 AS INT) AS max_depth
        |FROM documents ORDER BY doc_id""".stripMargin,
    "m5_tiff_parse" ->
      """SELECT doc_id, 'tiff' AS fmt,
        |  CAST(8 + 2 + (3 + CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END) * 12 + 4
        |    + CASE WHEN doc_id % 5 <> 0 THEN 30 ELSE 0 END
        |    + octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  CAST(doc_id % 640 + 1 AS INT) AS width,
        |  CAST(doc_id % 480 + 1 AS INT) AS height,
        |  CAST(doc_id % 8 + 1 AS INT) AS orientation,
        |  CAST(3 + CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END
        |    + CASE WHEN doc_id % 5 <> 0 THEN 2 ELSE 0 END AS INT) AS n_entries,
        |  CAST(CASE WHEN doc_id % 5 <> 0 THEN 2 ELSE 1 END AS INT) AS n_ifds
        |FROM documents ORDER BY doc_id""".stripMargin,
    // m4: marker-walk results recomputed arithmetically — fixed chain
    // is 55 bytes (SOI 2 + APP0 18 + SOF0 19 + SOS 14 + EOI 2), DQT
    // adds 69 on even ids; 2 or 3 segments before the scan
    "m4_jpeg_parse" ->
      """SELECT doc_id, 'jpeg' AS fmt,
        |  CAST(55 + octet_length(encode(text))
        |    + CASE WHEN doc_id % 2 = 0 THEN 69 ELSE 0 END AS BIGINT) AS n_bytes,
        |  CAST(doc_id % 640 + 1 AS INT) AS width,
        |  CAST(doc_id % 480 + 1 AS INT) AS height,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN 3 ELSE 2 END AS INT) AS n_segments
        |FROM documents ORDER BY doc_id""".stripMargin,
    // m3: post-sample metadata recomputed arithmetically — kept =
    // floor((n-1)/2)+1 of n = id%7+2 16-byte frames after a 100-byte
    // header; width/height/fps replay the planted derivations
    "m3_frame_sample" ->
      """SELECT doc_id, 'avi' AS fmt,
        |  CAST(100 + ((doc_id % 7 + 1) // 2 + 1) * 16 AS BIGINT) AS n_bytes,
        |  CAST(doc_id % 640 + 1 AS INT) AS width,
        |  CAST(doc_id % 480 + 1 AS INT) AS height,
        |  CAST((doc_id % 7 + 1) // 2 + 1 AS INT) AS n_frames,
        |  CAST(1000000 // (33333 + (doc_id % 3) * 8334) AS INT) AS fps
        |FROM documents ORDER BY doc_id""".stripMargin,
    // e6: full index replay — d10's centroid pick + spherical argmax
    // assignment, within-cell pairs, per-node ROW_NUMBER top-5 (raw-cos
    // ordering, id tiebreak — bit-identical dots), mutual join
    "e6_knn_graph" ->
      s"""WITH $knnTopkCtes
         |SELECT f.qid AS id_a, f.id AS id_b, ROUND(f.cos, 6) AS cos,
         |  f.rk AS rk_ab, r.rk AS rk_ba
         |FROM topk f JOIN topk r ON f.qid = r.id AND f.id = r.qid
         |WHERE f.qid < f.id ORDER BY id_a, id_b""".stripMargin,
    // e17: the identical directed top-5 chain, in-degrees with the
    // zero spine, exact integer moment sums surfaced as BIGINT, the
    // identical pinned double-op sequence for mean/sd/skew (the x38
    // device — int64->double casts + fixed IEEE op order only)
    "e17_hubness" ->
      s"""WITH $knnTopkCtes,
         |deg AS (SELECT b.vec_id,
         |    CAST(COALESCE(t.c, 0) AS BIGINT) AS d
         |  FROM b LEFT JOIN (SELECT id, COUNT(*) AS c FROM topk
         |    GROUP BY id) t ON b.vec_id = t.id),
         |hist AS (SELECT d, CAST(COUNT(*) AS BIGINT) AS n_vecs
         |  FROM deg GROUP BY d),
         |mom AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(d) AS BIGINT) AS s1,
         |    CAST(SUM(d * d) AS BIGINT) AS s2,
         |    CAST(SUM(d * d * d) AS BIGINT) AS s3 FROM deg),
         |fin AS (SELECT hist.d, hist.n_vecs, n,
         |    CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mean_deg,
         |    CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS e2,
         |    CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE) AS e3
         |  FROM hist, mom)
         |SELECT d AS in_deg, n_vecs,
         |  CAST(n_vecs AS DOUBLE) / CAST(n AS DOUBLE) AS share,
         |  mean_deg,
         |  CASE WHEN e2 - mean_deg * mean_deg > 0.0
         |       THEN sqrt(e2 - mean_deg * mean_deg) END AS sd_deg,
         |  CASE WHEN e2 - mean_deg * mean_deg > 0.0
         |       THEN (e3 - 3.0 * mean_deg * e2
         |             + 2.0 * mean_deg * mean_deg * mean_deg)
         |         / (sqrt(e2 - mean_deg * mean_deg)
         |            * (e2 - mean_deg * mean_deg)) END AS skew_deg
         |FROM fin ORDER BY in_deg""".stripMargin,
    // e18: the identical top-2 cut of the proven chain; exclusion
    // census via the id spine; ln μ terms on the x38 integer-micros
    // grid (round6 → DECIMAL(12,6) hop → ×1e6 BIGINT), d̂ from two
    // pinned IEEE divisions
    "e18_intrinsic_dim" ->
      s"""WITH $knnTopkCtes,
         |p AS (SELECT qid, MAX(CASE WHEN rk = 1 THEN cos END) AS cos1,
         |    MAX(CASE WHEN rk = 2 THEN cos END) AS cos2,
         |    COUNT(*) AS nn
         |  FROM topk WHERE rk <= 2 GROUP BY qid),
         |cls AS (SELECT b.vec_id AS qid,
         |    CASE WHEN p.qid IS NULL OR nn < 2 THEN 'short'
         |         WHEN 1.0 - cos1 <= 0.0 THEN 'dup'
         |         ELSE 'used' END AS cls,
         |    CASE WHEN p.qid IS NOT NULL AND nn = 2
         |        AND 1.0 - cos1 > 0.0 THEN
         |      CAST(CAST(ROUND(ln((1.0 - cos2) / (1.0 - cos1)), 6)
         |        AS DECIMAL(12,6)) * 1000000 AS BIGINT)
         |    ELSE 0 END AS t
         |  FROM b LEFT JOIN p ON b.vec_id = p.qid),
         |ag AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_points,
         |    CAST(COUNT(CASE WHEN cls = 'used' THEN 1 END) AS BIGINT)
         |      AS n_used,
         |    CAST(COUNT(CASE WHEN cls = 'dup' THEN 1 END) AS BIGINT)
         |      AS n_dup,
         |    CAST(COUNT(CASE WHEN cls = 'short' THEN 1 END) AS BIGINT)
         |      AS n_short,
         |    CAST(SUM(t) AS BIGINT) AS sum_lnmu_e6 FROM cls)
         |SELECT n_points, n_used, n_dup, n_short, sum_lnmu_e6,
         |  CASE WHEN sum_lnmu_e6 > 0 THEN CAST(n_used AS DOUBLE)
         |    / (CAST(sum_lnmu_e6 AS DOUBLE) / 1000000.0) END AS id_twonn
         |FROM ag""".stripMargin,
    // x22: full bigram-model replay — same tokenization, same
    // (count desc, key) vocab cuts, same λ=0.75 interpolation and 0.5
    // OOV floor; per-bigram log-probs as 9-decimal DECIMALs so the sum
    // is order-free on both engines
    "x22_bigram_ppl" ->
      s"""WITH base AS (SELECT doc_id, string_split($normSql, ' ') AS toks
        |  FROM documents),
        |ucnt AS (SELECT tok, COUNT(*) AS cnt
        |  FROM (SELECT unnest(toks) AS tok FROM base) GROUP BY 1),
        |tot AS (SELECT SUM(cnt) AS t FROM ucnt),
        |uvocab AS (SELECT tok, cnt FROM ucnt
        |  ORDER BY cnt DESC, tok LIMIT 32),
        |docs2 AS (SELECT doc_id, toks FROM base WHERE len(toks) >= 2),
        |pos AS (SELECT doc_id, toks,
        |    unnest(generate_series(1, len(toks) - 1)) AS i FROM docs2),
        |big AS (SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2 FROM pos),
        |bcnt AS (SELECT w1, w2, COUNT(*) AS bcnt FROM big GROUP BY 1, 2),
        |bvocab AS (SELECT b.w1, b.w2, b.bcnt, u.cnt AS c1
        |  FROM bcnt b JOIN ucnt u ON b.w1 = u.tok
        |  ORDER BY b.bcnt DESC, b.w1, b.w2 LIMIT 64),
        |scored AS (SELECT big.doc_id,
        |    CAST(ROUND(ln(
        |      0.75 * (CASE WHEN bv.bcnt IS NOT NULL
        |        THEN CAST(bv.bcnt AS DOUBLE) / CAST(bv.c1 AS DOUBLE)
        |        ELSE 0.0 END) +
        |      0.25 * (COALESCE(CAST(uv.cnt AS DOUBLE), 0.5) / t)), 9)
        |      AS DECIMAL(18,9)) AS lp
        |  FROM big
        |  LEFT JOIN bvocab bv ON big.w1 = bv.w1 AND big.w2 = bv.w2
        |  LEFT JOIN uvocab uv ON big.w2 = uv.tok, tot)
        |SELECT doc_id, COUNT(*) AS n_bi,
        |  ROUND(-(CAST(CAST(SUM(lp) AS VARCHAR) AS DOUBLE) / COUNT(*)), 6)
        |    AS ln_ppl
        |FROM scored GROUP BY 1 ORDER BY doc_id""".stripMargin,
    // x40: full KN-model replay — same tokenization, same integer
    // count/distinct-count/type-total statistics, the identical pinned
    // P expression (c−D + D·n1v·(n1w/B)) / cv, 9-decimal DECIMAL
    // log-prob sums (order-free), terminal ln_ppl via ONE pinned
    // division (the decimal sum reaches double through VARCHAR — the
    // r11 correctly-rounded-cast device; no terminal exp crosses the
    // gate since the len_k10 ulp finding)
    "x40_kneser_ney" ->
      s"""WITH base AS (SELECT doc_id, string_split($normSql, ' ') AS toks
        |  FROM documents),
        |docs2 AS (SELECT doc_id, toks FROM base WHERE len(toks) >= 2),
        |pos AS (SELECT doc_id, toks,
        |    unnest(generate_series(1, len(toks) - 1)) AS i FROM docs2),
        |big AS (SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2 FROM pos),
        |bcnt AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cvw
        |  FROM big GROUP BY 1, 2),
        |ctx AS (SELECT w1, CAST(SUM(cvw) AS BIGINT) AS cv,
        |    CAST(COUNT(*) AS BIGINT) AS n1v FROM bcnt GROUP BY 1),
        |cont AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS n1w
        |  FROM bcnt GROUP BY 1),
        |btypes AS (SELECT CAST(COUNT(*) AS BIGINT) AS b FROM bcnt),
        |scored AS (SELECT big.doc_id,
        |    CAST(ROUND(ln(
        |      (CAST(cvw AS DOUBLE) - 0.75 +
        |        0.75 * CAST(n1v AS DOUBLE) *
        |          (CAST(n1w AS DOUBLE) / CAST(b AS DOUBLE))) /
        |      CAST(cv AS DOUBLE)), 9) AS DECIMAL(18,9)) AS lp
        |  FROM big
        |  JOIN bcnt ON big.w1 = bcnt.w1 AND big.w2 = bcnt.w2
        |  JOIN ctx ON big.w1 = ctx.w1
        |  JOIN cont ON big.w2 = cont.w2, btypes)
        |SELECT doc_id, COUNT(*) AS n_bi,
        |  ROUND(-(CAST(CAST(SUM(lp) AS VARCHAR) AS DOUBLE) / COUNT(*)), 6)
        |    AS ln_ppl
        |FROM scored GROUP BY 1 ORDER BY doc_id""".stripMargin,
    // d13: rebuild the planted urls and re-canonicalize rule for rule
    // (lowercase scheme/host, default-port strip, fragment drop,
    // tracking-param drop, param sort, trailing-slash strip)
    "d13_url_dedup" ->
      """WITH u AS (SELECT doc_id,
        |    (CASE WHEN doc_id % 2 = 0 THEN 'http' ELSE 'HTTP' END) || '://' ||
        |    (CASE WHEN doc_id % 3 = 0 THEN 'WWW' ELSE 'www' END) ||
        |    '.site' || CAST(doc_id % 7 AS VARCHAR) || '.com' ||
        |    (CASE WHEN doc_id % 4 = 0 THEN ':80' ELSE '' END) ||
        |    '/page/' || CAST(doc_id % 3 AS VARCHAR) ||
        |    (CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END) ||
        |    (CASE WHEN doc_id % 2 = 0
        |       THEN '?utm_source=feed&id=' || CAST(doc_id % 3 AS VARCHAR) || '&b=2'
        |       ELSE '?b=2&id=' || CAST(doc_id % 3 AS VARCHAR) END) ||
        |    (CASE WHEN doc_id % 5 = 0 THEN '#frag' ELSE '' END) AS url
        |  FROM documents),
        |c AS (SELECT doc_id, url,
        |    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#:]+)(:[0-9]+)?([^?#]*)(\?[^#]*)?(#.*)?$', 1)) AS scheme,
        |    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#:]+)(:[0-9]+)?([^?#]*)(\?[^#]*)?(#.*)?$', 2)) AS host,
        |    regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#:]+)(:[0-9]+)?([^?#]*)(\?[^#]*)?(#.*)?$', 3) AS rawport,
        |    regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#:]+)(:[0-9]+)?([^?#]*)(\?[^#]*)?(#.*)?$', 4) AS rawpath,
        |    regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#:]+)(:[0-9]+)?([^?#]*)(\?[^#]*)?(#.*)?$', 5) AS rawq
        |  FROM u),
        |n AS (SELECT doc_id, url,
        |    scheme || '://' || host ||
        |    (CASE WHEN (scheme = 'http' AND rawport = ':80')
        |       OR (scheme = 'https' AND rawport = ':443')
        |       THEN '' ELSE rawport END) ||
        |    (CASE WHEN regexp_replace(rawpath, '/+$', '') = '' THEN '/'
        |       ELSE regexp_replace(rawpath, '/+$', '') END) ||
        |    (CASE WHEN len(ps) > 0
        |       THEN '?' || array_to_string(list_sort(ps), '&') ELSE '' END)
        |      AS canonical_url
        |  FROM (SELECT *,
        |      list_filter(string_split(substr(rawq, 2), '&'),
        |        p -> NOT (starts_with(p, 'utm_') OR starts_with(p, 'fbclid=')
        |          OR starts_with(p, 'gclid=') OR p = '')) AS ps
        |    FROM c))
        |SELECT canonical_url, MIN(doc_id) AS keep_id, COUNT(*) AS n_urls,
        |  COUNT(DISTINCT url) AS n_spellings
        |FROM n GROUP BY 1 ORDER BY canonical_url""".stripMargin,
    // x21: full TF-IDF recompute — same tokenization, same (df desc,
    // tok) vocabulary cut, same smooth-idf arithmetic; ln washed by
    // ROUND(..,6)
    "x21_tfidf" ->
      s"""WITH base AS (SELECT doc_id, string_split($normSql, ' ') AS toks
        |  FROM documents),
        |tok AS (SELECT doc_id, unnest(toks) AS tok FROM base),
        |tfx AS (SELECT doc_id, tok, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
        |vocab AS (SELECT tok, COUNT(*) AS df FROM tfx
        |  GROUP BY 1 ORDER BY df DESC, tok LIMIT 64),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents)
        |SELECT tfx.doc_id, tfx.tok, tfx.tf, vocab.df,
        |  ROUND(CAST(tf AS DOUBLE) *
        |    (ln((CAST(n_docs AS DOUBLE) + 1.0) / (CAST(df AS DOUBLE) + 1.0))
        |      + 1.0), 6) AS tfidf
        |FROM tfx JOIN vocab USING (tok), n
        |ORDER BY doc_id, tok""".stripMargin,
    "s2_ann_lsh" -> s2OracleSql,
    // s7: the unrolled beam search over the proven e6 graph replay
    "s7_graph_ann" -> s7OracleSql,
    // e21: the same chain at 3 hops, four horizon cuts vs brute
    "e21_graph_recall_sweep" -> e21OracleSql,
    // x46: full hashed-classifier replay — same polynomial/mod-chain
    // constants interpolated from HashClassifier, exact BIGINT sums
    "x46_hash_classifier" -> x46OracleSql,
    "e2_random_projection" -> e2OracleSql,
    "e3_kmeans" -> e3OracleSql,
    // e12: BOTH Lloyd chains replayed (e3's proven template, suffixed,
    // salts '' and 'b'), exact-integer contingency/pair-count sums,
    // identical IEEE ARI sequence
    "e12_kmeans_ari" -> e12OracleSql,
    "e16_kcenter_coreset" -> e16OracleSql,
    // x39: identical token filter, per-window list_distinct lengths
    // (exact integers) summed, the identical single terminal division
    // of two int64->double casts
    "x39_mattr" ->
      s"""WITH base AS (SELECT doc_id,
         |    list_filter(string_split($normSql, ' '), t -> t <> '')
         |      AS toks FROM documents),
         |d AS (SELECT doc_id, toks, CAST(len(toks) AS INT) AS n
         |  FROM base),
         |p AS (SELECT doc_id, toks, n, LEAST(25, n) AS wl,
         |    n - LEAST(25, n) + 1 AS nw FROM d),
         |s AS (SELECT doc_id, n, wl, nw,
         |    CAST(len(list_distinct(toks)) AS BIGINT) AS n_types,
         |    CAST(list_sum(list_transform(generate_series(1, nw),
         |      i -> len(list_distinct(toks[i:i+wl-1])))) AS BIGINT)
         |      AS swt
         |  FROM p)
         |SELECT doc_id, CAST(n AS BIGINT) AS n_tokens, n_types,
         |  CAST(wl AS BIGINT) AS win_len, CAST(nw AS BIGINT)
         |    AS n_windows, swt AS sum_win_types,
         |  CASE WHEN n = 0 THEN NULL
         |       ELSE CAST(swt AS DOUBLE) / CAST(nw * wl AS DOUBLE)
         |  END AS mattr
         |FROM s ORDER BY doc_id""".stripMargin,
    // x38: identical rank window, identical round-6 integer-micros
    // terms (all sums BIGINT-exact), the identical pinned double-op
    // regression over int64->double casts (correctly rounded both
    // engines — DuckDB 1.0's scale-18 decimal->double cast is NOT)
    "x38_zipf" ->
      s"""WITH tk AS (SELECT source, tok, COUNT(*) AS c FROM (
         |    SELECT source, unnest(string_split($normSql, ' ')) AS tok
         |    FROM documents) WHERE tok <> '' GROUP BY 1, 2),
         |rk AS (SELECT source, c,
         |    ROW_NUMBER() OVER (PARTITION BY source
         |      ORDER BY c DESC, tok ASC) AS rk
         |  FROM tk),
         |tp AS (SELECT source,
         |    CAST(CAST(ROUND(ln(rk), 6) AS DECIMAL(12,6)) * 1000000
         |      AS BIGINT) AS x,
         |    CAST(CAST(ROUND(ln(c), 6) AS DECIMAL(12,6)) * 1000000
         |      AS BIGINT) AS y
         |  FROM rk WHERE rk <= 200),
         |ag AS (SELECT source, COUNT(DISTINCT tok) AS n_vocab
         |  FROM tk GROUP BY source),
         |sm AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS r_used,
         |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         |    CAST(SUM(x * y) AS BIGINT) AS sxy,
         |    CAST(SUM(x * x) AS BIGINT) AS sxx
         |  FROM tp GROUP BY source),
         |fin AS (SELECT sm.source, ag.n_vocab, sm.r_used,
         |    CAST(r_used AS DOUBLE) * CAST(sxy AS DOUBLE)
         |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS num,
         |    CAST(r_used AS DOUBLE) * CAST(sxx AS DOUBLE)
         |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS den,
         |    CAST(sy AS DOUBLE) * CAST(sxx AS DOUBLE)
         |      - CAST(sx AS DOUBLE) * CAST(sxy AS DOUBLE) AS num_b
         |  FROM sm JOIN ag USING (source))
         |SELECT source, n_vocab, r_used,
         |  num / den AS zipf_slope,
         |  num_b / den / 1000000.0 AS zipf_intercept
         |FROM fin ORDER BY source""".stripMargin,
    // x29: identical integer allocation (base // + mod-N remainder
    // ranking), md5-prefix selection, sorted-id fingerprints
    // x30: x2's exact score/token fragments (proven IEEE-identical by
    // x2's hash match) under the same conditional sums; thresholds
    // CAST AS DOUBLE (a bare 0.3 parses as DECIMAL in DuckDB)
    "x30_filter_tradeoff" -> x30OracleSql,
    // p4: d1's digest + x2's score fragments over the same planted
    // corpus; rounded-6 DECIMAL quality sums (e9 device), identical
    // terminal divisions
    // x31: x1's chain templated per half (same profiles, tie-break,
    // cjk), identical char-based halving
    "x31_lang_consistency" -> x31OracleSql,
    // x32: identical dense-filled Laplace table, identical pair terms
    // (x24's round-9 + 0.0 device), exact decimal sums
    "x32_source_drift_matrix" ->
      """WITH tk AS (SELECT source, tok FROM (
        |    SELECT source, unnest(string_split(
        |      trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS tok
        |    FROM documents) WHERE tok <> ''),
        |c AS (SELECT source, tok, COUNT(*) AS c FROM tk GROUP BY 1, 2),
        |vocab AS (SELECT DISTINCT tok FROM c),
        |srcs AS (SELECT DISTINCT source FROM c),
        |dense AS (SELECT s.source, v.tok, COALESCE(c.c, 0) AS c
        |  FROM vocab v CROSS JOIN srcs s
        |  LEFT JOIN c ON c.source = s.source AND c.tok = v.tok),
        |tt AS (SELECT source, SUM(c) AS n FROM dense GROUP BY 1),
        |vc AS (SELECT COUNT(*) AS v FROM vocab),
        |p AS (SELECT d.source, d.tok,
        |    CAST(d.c + 1 AS DOUBLE) / CAST(tt.n + vc.v AS DOUBLE) AS p
        |  FROM dense d JOIN tt USING (source) CROSS JOIN vc)
        |SELECT x.source AS src_a, y.source AS src_b,
        |  CAST(SUM(CAST(ROUND(x.p * ln(x.p / y.p), 9) + 0.0
        |    AS DECIMAL(20,9))) AS DOUBLE) AS kl_ab,
        |  CAST(SUM(CAST(ROUND(y.p * ln(y.p / x.p), 9) + 0.0
        |    AS DECIMAL(20,9))) AS DOUBLE) AS kl_ba
        |FROM p x JOIN p y ON x.tok = y.tok AND x.source < y.source
        |GROUP BY 1, 2 ORDER BY src_a, src_b""".stripMargin,
    "p4_corpus_datasheet" ->
      s"""WITH raw AS (SELECT doc_id, lang, text FROM documents),
         |pl AS (SELECT r.doc_id, r.lang,
         |    CASE WHEN r.doc_id % 7 = 3 AND p.text IS NOT NULL
         |         THEN p.text ELSE r.text END AS text
         |  FROM raw r LEFT JOIN raw p ON p.doc_id = r.doc_id - 1),
         |q AS (SELECT doc_id, lang, sha256($normSql) AS digest,
         |    CAST($qToksSql AS BIGINT) AS n_tokens,
         |    CAST(ROUND($qScoreSql, 6) AS DECIMAL(12,6)) AS q6
         |  FROM pl),
         |dup AS (SELECT digest FROM q GROUP BY digest HAVING COUNT(*) >= 2),
         |fl AS (SELECT lang, COUNT(*) AS n_dup_docs FROM q
         |  WHERE digest IN (SELECT digest FROM dup) GROUP BY lang),
         |tt AS (SELECT SUM(n_tokens) AS tok_all FROM q),
         |g AS (SELECT lang, COUNT(*) AS n_docs,
         |    CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
         |    CAST(SUM(q6) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
         |      AS mean_quality
         |  FROM q GROUP BY lang)
         |SELECT g.lang, g.n_docs, g.n_tokens,
         |  CAST(g.n_tokens AS DOUBLE) / CAST(tt.tok_all AS DOUBLE)
         |    AS tok_share,
         |  g.mean_quality, COALESCE(fl.n_dup_docs, 0) AS n_dup_docs
         |FROM g CROSS JOIN tt LEFT JOIN fl USING (lang)
         |ORDER BY g.lang""".stripMargin,
    "x29_stratified_split" ->
      """WITH d AS (SELECT doc_id, lang, source FROM documents),
        |st AS (SELECT lang, source, COUNT(*) AS n_docs FROM d GROUP BY 1, 2),
        |tt AS (SELECT SUM(n_docs) AS nn FROM st),
        |al AS (SELECT lang, source, n_docs,
        |    (n_docs * 100) // nn AS base, (n_docs * 100) % nn AS rem,
        |    ROW_NUMBER() OVER (ORDER BY (n_docs * 100) % nn DESC,
        |      lang, source) AS rk
        |  FROM st, tt),
        |lo AS (SELECT 100 - SUM(base) AS lo FROM al),
        |a2 AS (SELECT lang, source, n_docs,
        |    CAST(least(n_docs, base
        |      + CASE WHEN rk <= lo.lo THEN 1 ELSE 0 END) AS BIGINT)
        |      AS allocated
        |  FROM al, lo),
        |rn AS (SELECT d.*, ROW_NUMBER() OVER (PARTITION BY lang, source
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn FROM d),
        |sel AS (SELECT r.lang, r.source, r.doc_id
        |  FROM rn r JOIN a2 USING (lang, source)
        |  WHERE r.rn <= a2.allocated),
        |ag AS (SELECT lang, source, COUNT(*) AS n_selected,
        |    md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id))
        |      AS sel_md5
        |  FROM sel GROUP BY 1, 2)
        |SELECT a2.lang, a2.source, a2.n_docs, a2.allocated,
        |  COALESCE(ag.n_selected, 0) AS n_selected,
        |  COALESCE(ag.sel_md5, md5('')) AS sel_md5
        |FROM a2 LEFT JOIN ag USING (lang, source)
        |ORDER BY lang, source""".stripMargin,
    "e9_silhouette" -> e9OracleSql,
    "e5_pca_project" -> e5OracleSql,
    "x20_bpe_train" -> x20OracleSql,
    "x23_bpe_encode" -> x23OracleSql,
    // d12: all-pairs-in-block string-gram ground truth (the d4 oracle
    // shape with the asymmetric metric); Spark's hashed-gram merge scan
    // must agree exactly
    "d12_containment" ->
      """WITH corpus AS (
        |  SELECT doc_id, text, source FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id,
        |    array_to_string(ws[1:CAST(CEIL(len(ws)/2.0) AS INT)], ' ') AS text,
        |    source
        |  FROM (SELECT doc_id, string_split(text, ' ') AS ws, source
        |        FROM documents)),
        |b AS (SELECT doc_id AS id, source, substr(text, 1, 12) AS pfx,
        |    list_distinct(list_transform(
        |      range(1, CAST(greatest(length(nt) - 2, 1) AS BIGINT) + 1),
        |      i -> substr(nt, CAST(i AS INT), 3))) AS g
        |  FROM (SELECT doc_id, source, text,
        |          trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS nt
        |        FROM corpus)),
        |j AS (SELECT a.id AS ia, bb.id AS ib,
        |    CAST(len(list_intersect(a.g, bb.g)) AS DOUBLE) AS common,
        |    CAST(len(a.g) AS DOUBLE) AS la, CAST(len(bb.g) AS DOUBLE) AS lb
        |  FROM b a JOIN b bb ON a.source = bb.source AND a.pfx = bb.pfx
        |    AND a.id < bb.id
        |  WHERE len(a.g) > 0 AND len(bb.g) > 0)
        |SELECT CASE WHEN common / la >= common / lb THEN ia ELSE ib END
        |    AS contained_id,
        |  CASE WHEN common / la >= common / lb THEN ib ELSE ia END
        |    AS container_id,
        |  ROUND(CASE WHEN common / la >= common / lb THEN common / la
        |        ELSE common / lb END, 6) AS containment
        |FROM j WHERE greatest(common / la, common / lb) >= 0.8
        |ORDER BY contained_id, container_id""".stripMargin,
    // d11: hamming ground truth via an INDEPENDENT pigeonhole blocking
    // — blocks 1-6/7-11/12-16 (ham <= 2 over 3 blocks leaves >= 1 block
    // untouched, so candidate generation is provably complete; a
    // theorem, not an implementation echo), deliberately different
    // boundaries than the engine's floor(i*16/3) slices (5/5/6 at
    // Dedup.fuzzyHammingJoin). Replaces the N×N cross join that
    // exceeded the oracle budget at sf0.1 (15k×15k pairs); verified
    // bit-identical to the all-pairs form at sf0.01/sf0.001.
    // d14: all-pairs levenshtein ground truth — the blocked join's
    // recall proof; the corrupted copy replays the identical string
    // surgery (1-based substr on both engines)
    "d14_edit_join" ->
      """WITH sup AS (SELECT s_suppkey AS id, s_name AS nm FROM supplier),
        |corr AS (SELECT id + 1000000 AS id,
        |    CASE WHEN id % 2 = 1 THEN substr(nm, 1, length(nm) - 1)
        |      ELSE substr(nm, 1, 8) || 'X' || substr(nm, 10) END AS nm
        |  FROM sup),
        |u AS (SELECT * FROM sup UNION ALL SELECT * FROM corr)
        |SELECT a.id AS id_a, b.id AS id_b,
        |  CAST(levenshtein(a.nm, b.nm) AS BIGINT) AS dist
        |FROM u a JOIN u b ON a.id < b.id
        |WHERE levenshtein(a.nm, b.nm) <= 1
        |ORDER BY id_a, id_b""".stripMargin,
    "d11_fuzzy_join" ->
      """WITH c0 AS (SELECT c_custkey,
        |    substr(md5(CAST(c_custkey AS VARCHAR)), 1, 16) AS base
        |  FROM customer),
        |a AS (SELECT c_custkey AS a_id, base AS a_name FROM c0),
        |p AS (SELECT c_custkey, CAST(1 + c_custkey % 16 AS INT) AS p1,
        |    CAST(1 + (c_custkey + 5) % 16 AS INT) AS p2, base
        |  FROM c0),
        |n1 AS (SELECT c_custkey, p2,
        |    substr(base, 1, p1 - 1) || 'X' || substr(base, p1 + 1) AS n1
        |  FROM p),
        |b AS (SELECT c_custkey + 1000000 AS b_id,
        |    CASE WHEN c_custkey % 2 = 0
        |      THEN substr(n1, 1, p2 - 1) || 'Y' || substr(n1, p2 + 1)
        |      ELSE n1 END AS b_name
        |  FROM n1),
        |ak AS (SELECT a_id, a_name,
        |    unnest([struct_pack(i := 1, s := substr(a_name, 1, 6)),
        |            struct_pack(i := 2, s := substr(a_name, 7, 5)),
        |            struct_pack(i := 3, s := substr(a_name, 12, 5))]) AS k
        |  FROM a),
        |bk AS (SELECT b_id, b_name,
        |    unnest([struct_pack(i := 1, s := substr(b_name, 1, 6)),
        |            struct_pack(i := 2, s := substr(b_name, 7, 5)),
        |            struct_pack(i := 3, s := substr(b_name, 12, 5))]) AS k
        |  FROM b),
        |cand AS (SELECT DISTINCT a_id, a_name, b_id, b_name
        |  FROM ak JOIN bk ON ak.k = bk.k
        |    AND length(a_name) = length(b_name)),
        |h AS (SELECT a_id, b_id,
        |    len(list_filter(generate_series(1, length(a_name)),
        |      i -> substr(a_name, i, 1) <> substr(b_name, i, 1))) AS ham
        |  FROM cand)
        |SELECT a_id, b_id, CAST(ham AS INT) AS dist
        |FROM h WHERE ham <= 2 ORDER BY a_id, b_id""".stripMargin,
    // x19: full model replay — same md5 buckets, same smoothing, the
    // per-bucket log-ratio rounded to 6 and summed as exact DECIMALs so
    // the per-doc sum is order-free on both engines
    "x19_dsir" -> {
      val hexVal = (1 to 4).map(i =>
        s"(strpos('0123456789abcdef', substr(md5(g), $i, 1)) - 1) * ${math.pow(16, 4 - i).toLong}")
        .mkString(" + ")
      s"""WITH w AS (SELECT doc_id, lang = 'en' AS tgt,
         |    string_split(text, ' ') AS ws FROM documents),
         |g0 AS (SELECT doc_id, tgt,
         |    unnest(ws || CASE WHEN len(ws) >= 2
         |      THEN list_transform(generate_series(1, len(ws) - 1),
         |        i -> ws[i] || ' ' || ws[i+1])
         |      ELSE []::VARCHAR[] END) AS g
         |  FROM w),
         |gb AS (SELECT doc_id, tgt, CAST(($hexVal) % 256 AS INT) AS b FROM g0),
         |cnt AS (SELECT b, COUNT(*) AS cr,
         |    COUNT(CASE WHEN tgt THEN 1 END) AS ct
         |  FROM gb GROUP BY b),
         |fb AS (SELECT unnest(generate_series(0, 255)) AS b),
         |fullb AS (SELECT fb.b, COALESCE(cr, 0) AS cr, COALESCE(ct, 0) AS ct
         |  FROM fb LEFT JOIN cnt ON fb.b = cnt.b),
         |tot AS (SELECT SUM(cr) AS tr, SUM(ct) AS tt FROM fullb),
         |lam AS (SELECT b,
         |    CAST(ROUND(ln(((ct + 1.0) / (tt + 256.0)) /
         |      ((cr + 1.0) / (tr + 256.0))), 6) AS DECIMAL(16,6)) AS lam
         |  FROM fullb, tot),
         |sc AS (SELECT doc_id, COUNT(*) AS n_grams,
         |    CAST(SUM(lam) AS DOUBLE) AS logw
         |  FROM gb JOIN lam USING (b) GROUP BY doc_id)
         |SELECT doc_id, n_grams, logw, logw > 0 AS selected
         |FROM sc ORDER BY doc_id""".stripMargin
    },
    // x18: the same planted construction + rule formulas; every ratio is
    // one division of exact integer counts, so doubles agree bit-exact
    "x18_gopher_rules" ->
      """WITH w0 AS (SELECT doc_id, string_split(text, ' ') AS ws0
        |  FROM documents),
        |s0 AS (SELECT doc_id,
        |    list_transform(generate_series(0, CAST(CEIL(len(ws0)/10.0) AS INT) - 1),
        |      i -> array_to_string(ws0[(i*10+1):(i*10+10)], ' ')) AS segs
        |  FROM w0),
        |s1 AS (SELECT doc_id, CASE WHEN doc_id % 17 = 0
        |      THEN list_transform(segs, l -> '- ' || l) ELSE segs END AS segs
        |  FROM s0),
        |s2 AS (SELECT doc_id, CASE WHEN doc_id % 19 = 0
        |      THEN list_transform(segs, l -> l || '...') ELSE segs END AS segs
        |  FROM s1),
        |m AS (SELECT doc_id, array_to_string(segs, chr(10)) ||
        |      CASE WHEN doc_id % 11 = 0
        |        THEN ' # # # # # # # # # # # # # # #' ELSE '' END AS mtext
        |  FROM s2),
        |st AS (SELECT doc_id, mtext,
        |    string_split_regex(mtext, '\s+') AS aw,
        |    string_split(mtext, chr(10)) AS lines
        |  FROM m),
        |sig AS (SELECT doc_id,
        |    CAST(len(aw) AS BIGINT) AS n_words,
        |    CAST(list_sum(list_transform(aw, w -> length(w))) AS DOUBLE)
        |      / CAST(len(aw) AS DOUBLE) AS mean_word_len,
        |    (CAST(length(mtext) - length(replace(mtext, '#', '')) AS DOUBLE)
        |      + (length(mtext) - length(replace(mtext, '...', ''))) / 3)
        |      / CAST(len(aw) AS DOUBLE) AS symbol_ratio,
        |    CAST(len(list_filter(lines, l -> l LIKE '- %')) AS DOUBLE)
        |      / CAST(len(lines) AS DOUBLE) AS frac_bullet_lines,
        |    CAST(len(list_filter(lines, l -> l LIKE '%...')) AS DOUBLE)
        |      / CAST(len(lines) AS DOUBLE) AS frac_ellipsis_lines,
        |    CAST(len(list_filter(aw, w -> regexp_matches(w, '[A-Za-z]'))) AS DOUBLE)
        |      / CAST(len(aw) AS DOUBLE) AS frac_alpha_words,
        |    CAST(len(list_filter(['the','be','to','of','and','that','have','with'],
        |      sw -> list_contains(aw, sw))) AS BIGINT) AS n_stop
        |  FROM st)
        |SELECT doc_id, n_words, mean_word_len, symbol_ratio,
        |  frac_bullet_lines, frac_ellipsis_lines, frac_alpha_words, n_stop,
        |  n_words BETWEEN 50 AND 100000 AS r_word_count,
        |  mean_word_len BETWEEN 3.0 AND 10.0 AS r_mean_word_len,
        |  symbol_ratio <= 0.1 AS r_symbol,
        |  frac_bullet_lines <= 0.9 AS r_bullet,
        |  frac_ellipsis_lines <= 0.3 AS r_ellipsis,
        |  frac_alpha_words >= 0.8 AS r_alpha,
        |  n_stop >= 2 AS r_stop,
        |  (n_words BETWEEN 50 AND 100000) AND (mean_word_len BETWEEN 3.0 AND 10.0)
        |    AND symbol_ratio <= 0.1 AND frac_bullet_lines <= 0.9
        |    AND frac_ellipsis_lines <= 0.3 AND frac_alpha_words >= 0.8
        |    AND n_stop >= 2 AS keep
        |FROM sig ORDER BY doc_id""".stripMargin,
    // x17: same segmentation + first-occurrence ownership replayed with
    // a window; md5 of identical reconstructed bytes agrees
    "x17_line_dedup" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, text FROM documents),
        |w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM corpus),
        |seg0 AS (SELECT doc_id, ws,
        |    unnest(generate_series(0, CAST(CEIL(len(ws)/10.0) AS INT) - 1))
        |      AS line_no
        |  FROM w),
        |seg AS (SELECT doc_id, line_no,
        |    array_to_string(ws[(line_no*10+1):(line_no*10+10)], ' ') AS line
        |  FROM seg0),
        |rk AS (SELECT doc_id, line_no, line,
        |    ROW_NUMBER() OVER (PARTITION BY md5(line)
        |      ORDER BY doc_id, line_no) AS rn
        |  FROM seg)
        |SELECT doc_id, COUNT(*) AS n_lines,
        |  COUNT(CASE WHEN rn = 1 THEN 1 END) AS n_kept,
        |  md5(COALESCE(string_agg(CASE WHEN rn = 1 THEN line END, chr(10)
        |    ORDER BY line_no), '')) AS kept_md5
        |FROM rk GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // x16: same pipeline via DuckDB's ICU functions — strip_accents
    // removes exactly the combining marks the NFD pass removes for
    // decomposable accents, so the normalized bytes (and their md5)
    // agree
    "x16_unicode_normalize" ->
      """WITH p AS (SELECT doc_id,
        |    text || '  CafÉ  ZÜrich   NIÑO façade à ö  ' AS text
        |  FROM documents),
        |n AS (SELECT doc_id, length(text) AS n_raw,
        |    regexp_replace(trim(lower(strip_accents(nfc_normalize(text)))),
        |      '\s+', ' ', 'g') AS nt
        |  FROM p)
        |SELECT doc_id, md5(nt) AS norm_md5, CAST(n_raw AS INT) AS n_raw,
        |  CAST(length(nt) AS INT) AS n_norm
        |FROM n ORDER BY doc_id""".stripMargin,
    // e4: covariance recomputed per pair via AVG; round-6 washes the
    // summation-order wobble on both sides (the e1 precedent)
    "e4_covariance" ->
      """WITH e AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |           FROM embeddings),
        |d AS (SELECT CAST(unnest(range(1, 65)) AS INT) AS i),
        |p AS (SELECT a.i AS i, b.i AS j FROM d a JOIN d b ON b.i >= a.i),
        |m AS (SELECT p.i, p.j, AVG(v[p.i] * v[p.j]) AS exy,
        |        AVG(v[p.i]) AS ex, AVG(v[p.j]) AS ey
        |      FROM e CROSS JOIN p GROUP BY p.i, p.j)
        |SELECT i - 1 AS dim_i, j - 1 AS dim_j,
        |  ROUND(exy - ex * ey, 6) + 0.0 AS cov
        |FROM m ORDER BY dim_i, dim_j""".stripMargin,
    // e19: e4's proven round-6 entries lifted to integer micros (x38
    // decimal hop), BIGINT trace/Frobenius sums, pinned int64→double
    // product + division; /64 is an exact power-of-two scaling
    "e19_effective_rank" ->
      """WITH e AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |           FROM embeddings),
        |d AS (SELECT CAST(unnest(range(1, 65)) AS INT) AS i),
        |p AS (SELECT a.i AS i, b.i AS j FROM d a JOIN d b ON b.i >= a.i),
        |m AS (SELECT p.i, p.j, AVG(v[p.i] * v[p.j]) AS exy,
        |        AVG(v[p.i]) AS ex, AVG(v[p.j]) AS ey
        |      FROM e CROSS JOIN p GROUP BY p.i, p.j),
        |c AS (SELECT i, j,
        |    CAST(CAST(ROUND(exy - ex * ey, 6) + 0.0 AS DECIMAL(18,6))
        |      * 1000000 AS BIGINT) AS c6 FROM m),
        |ag AS (SELECT
        |    CAST(SUM(CASE WHEN i = j THEN c6 ELSE 0 END) AS BIGINT)
        |      AS tr_e6,
        |    CAST(SUM(c6 * c6 * CASE WHEN i = j THEN 1 ELSE 2 END)
        |      AS BIGINT) AS fro2_e12
        |  FROM c)
        |SELECT 64 AS n_dims, tr_e6, fro2_e12,
        |  CAST(tr_e6 AS DOUBLE) / 1000000.0 AS trace,
        |  CASE WHEN fro2_e12 > 0 THEN CAST(tr_e6 AS DOUBLE)
        |    * CAST(tr_e6 AS DOUBLE) / CAST(fro2_e12 AS DOUBLE)
        |  END AS eff_rank,
        |  CASE WHEN fro2_e12 > 0 THEN CAST(tr_e6 AS DOUBLE)
        |    * CAST(tr_e6 AS DOUBLE) / CAST(fro2_e12 AS DOUBLE) / 64.0
        |  END AS eff_rank_frac
        |FROM ag""".stripMargin,
    // e8: e4's moment CTE normalized by the diagonal — corr(i,j) =
    // (E[xy] − ExEy) / sqrt(var_i · var_j), the identical IEEE
    // sequence as the Spark side (cov first, variance product under
    // one sqrt), NULL on zero variance, round-6 + 0.0
    "e8_corr_matrix" ->
      """WITH e AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |           FROM embeddings),
        |d AS (SELECT CAST(unnest(range(1, 65)) AS INT) AS i),
        |p AS (SELECT a.i AS i, b.i AS j FROM d a JOIN d b ON b.i >= a.i),
        |m AS (SELECT p.i, p.j, AVG(v[p.i] * v[p.j]) AS exy,
        |        AVG(v[p.i]) AS ex, AVG(v[p.j]) AS ey
        |      FROM e CROSS JOIN p GROUP BY p.i, p.j),
        |vr AS (SELECT i, exy - ex * ey AS var FROM m WHERE i = j)
        |SELECT m.i - 1 AS dim_i, m.j - 1 AS dim_j,
        |  ROUND(CASE WHEN vi.var * vj.var <= 0.0 THEN NULL
        |    ELSE (m.exy - m.ex * m.ey) / sqrt(vi.var * vj.var) END, 6) + 0.0
        |    AS corr
        |FROM m JOIN vr vi ON m.i = vi.i JOIN vr vj ON m.j = vj.i
        |ORDER BY dim_i, dim_j""".stripMargin,
    // SemDeDup replayed end to end: md5-order centroid sample,
    // spherical cell assignment (rn = 1 over -cos ASC, cid ASC),
    // within-cell pairs, min-id verdict. Every float op is the same
    // IEEE sequence as the Spark side, so the 0.95 cut is exact.
    "d10_semantic_dedup" ->
      """WITH emb0 AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |corpus AS (SELECT vec_id, v FROM emb0
        |  UNION ALL SELECT vec_id + 100000, v FROM emb0 WHERE vec_id < 40),
        |cent AS (SELECT vec_id AS cid, v AS cv,
        |    sqrt(list_inner_product(v, v)) AS nc FROM corpus
        |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
        |b AS (SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS nv FROM corpus),
        |assign AS (SELECT vec_id, v, nv, cid AS cell FROM (
        |    SELECT b.vec_id, b.v, b.nv, c.cid,
        |      ROW_NUMBER() OVER (PARTITION BY b.vec_id ORDER BY
        |        CASE WHEN b.nv * c.nc = 0.0 THEN 0.0
        |             ELSE -(list_inner_product(b.v, c.cv) / (b.nv * c.nc))
        |        END ASC, c.cid ASC) AS rn
        |    FROM b CROSS JOIN cent c) t WHERE rn = 1),
        |hits AS (SELECT bb.vec_id AS id_b, a.vec_id AS id_a,
        |    CASE WHEN a.nv * bb.nv = 0.0 THEN 0.0
        |         ELSE list_inner_product(a.v, bb.v) / (a.nv * bb.nv) END AS cos
        |  FROM assign a JOIN assign bb
        |    ON a.cell = bb.cell AND a.vec_id < bb.vec_id),
        |hit AS (SELECT id_b, id_a, cos FROM hits WHERE cos >= 0.95),
        |best AS (SELECT id_b, id_a, cos,
        |    ROW_NUMBER() OVER (PARTITION BY id_b ORDER BY id_a) AS rn FROM hit)
        |SELECT c.vec_id, a.cell, h.id_a IS NOT NULL AS is_dup,
        |  h.id_a AS dup_of, ROUND(h.cos, 6) AS cos
        |FROM (SELECT vec_id FROM corpus) c
        |JOIN (SELECT vec_id, cell FROM assign) a USING (vec_id)
        |LEFT JOIN (SELECT * FROM best WHERE rn = 1) h ON h.id_b = c.vec_id
        |ORDER BY c.vec_id""".stripMargin,
    // e1: centroid recomputed per (label, dim) via AVG then rounded to
    // 6 decimals — the SAME pre-rounding the Spark side applies, so the
    // cosine arithmetic downstream is bit-identical (list_inner_product
    // == ArrayDotProduct, left-to-right)
    "e1_embed_outliers" ->
      """WITH ve AS (SELECT vec_id, label,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |u AS (SELECT label, vec_id, i, v[CAST(i AS INT)] AS x
        |  FROM ve, (SELECT unnest(range(1, 65)) AS i) t),
        |cent AS (SELECT label, i, ROUND(AVG(x), 6) AS c
        |  FROM u GROUP BY label, i),
        |cl AS (SELECT label, list(c ORDER BY i) AS cent FROM cent GROUP BY label),
        |sc AS (SELECT ve.vec_id, ve.label,
        |    CASE WHEN sqrt(list_inner_product(ve.v, ve.v)) *
        |              sqrt(list_inner_product(cl.cent, cl.cent)) = 0.0 THEN 0.0
        |         ELSE ROUND(list_inner_product(ve.v, cl.cent) /
        |           (sqrt(list_inner_product(ve.v, ve.v)) *
        |            sqrt(list_inner_product(cl.cent, cl.cent))), 6) END AS cos_centroid
        |  FROM ve JOIN cl USING (label))
        |SELECT vec_id, label, cos_centroid, cos_centroid < 0.0 AS is_outlier
        |FROM sc ORDER BY vec_id""".stripMargin,
    "s3_ann_ivf" -> s3OracleSql,
    "e10_ivf_recall_sweep" -> e10OracleSql,
    "s5_ann_pq" -> s5OracleSql,
    "d3_simhash" -> d3OracleSql,
    "d1_exact_dedup" ->
      s"""WITH all_docs AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL SELECT doc_id + 1000000, text FROM documents)
         |SELECT sha256($normSql) AS digest, MIN(doc_id) AS keep_id,
         |  COUNT(*) AS n_copies
         |FROM all_docs GROUP BY 1 ORDER BY keep_id""".stripMargin,
    // minhash LSH vs exact ground truth: jaccard on hashed shingle sets
    // == jaccard on the shingle STRINGS (hash-independent set sizes).
    // The oracle enumerates every pair sharing >= 1 gram via an
    // inverted gram index (lossless for J >= 0.5 — see d2PairCtes) and
    // verifies the exact Jaccard. The Spark side runs the banded-LSH
    // plan, so a hash-match is also a 100%-recall proof.
    // (shared WITH chain: d2PairCtes below the map)
    "d2_minhash_lsh" ->
      s"""$d2PairCtes
        |SELECT id_a, id_b, ROUND(common / (sz - common), 6) AS jaccard
        |FROM j WHERE common / (sz - common) >= 0.5 ORDER BY id_a, id_b""".stripMargin,
    // decontamination recomputed on shingle STRINGS (the Spark side
    // joins xxhash64 grams; intersection counts agree modulo hash
    // collisions, the d2 precedent). Short docs (< 13 words) fall back
    // to one whole-text partial gram on both engines.
    // p1: the composed pipeline replayed from its already-proven
    // pieces — d1's md5 keep-min dup verdict, d7's 13-gram eval
    // overlap, x2's token count + quality score (verbatim fragments),
    // with the same drop-reason precedence CASE as the Spark side.
    // p6: p1's proven verdict replay nested as a CTE (the p3 device) +
    // x1's langId fragment on the base docs (copies share text, so the
    // prediction joins through the base id), then the exact-integer
    // funnel fold on the 5-row stage table
    "p6_curation_funnel" ->
      s"""WITH verd AS (
        |$p1OracleSql
        |),
        |lb AS (
        |  SELECT doc_id,
        |    string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks,
        |    length(regexp_replace(text, '[^\\x{4e00}-\\x{9fff}]', '', 'g'))
        |      / greatest(length(text), 1) AS cjk
        |  FROM documents),
        |ls AS (
        |  SELECT doc_id, cjk,
        |    len(list_filter(toks, t -> t IN ('the','and','of','to','in','is','you','that','it','for','a'))) / greatest(len(toks),1) AS s_en,
        |    len(list_filter(toks, t -> t IN ('der','die','und','das','ist','nicht','mit','ein','zu','von'))) / greatest(len(toks),1) AS s_de,
        |    len(list_filter(toks, t -> t IN ('el','la','de','que','y','en','un','para','con','por'))) / greatest(len(toks),1) AS s_es,
        |    len(list_filter(toks, t -> t IN ('le','la','de','et','les','des','une','pour','que','dans'))) / greatest(len(toks),1) AS s_fr
        |  FROM lb),
        |lp AS (
        |  SELECT doc_id,
        |    CASE WHEN cjk > 0.3 THEN 'zh'
        |         WHEN greatest(s_en, s_de, s_es, s_fr) > 0.0 THEN
        |           CASE WHEN s_en >= greatest(s_de, s_es, s_fr) THEN 'en'
        |                WHEN s_de >= greatest(s_es, s_fr) THEN 'de'
        |                WHEN s_es >= s_fr THEN 'es'
        |                ELSE 'fr' END
        |         ELSE 'und' END AS pred
        |  FROM ls),
        |staged AS (
        |  SELECT v.doc_id,
        |    CASE WHEN v.drop_reason = 'dup' THEN 1
        |         WHEN v.drop_reason = 'contaminated' THEN 2
        |         WHEN v.drop_reason = 'low_quality' THEN 3
        |         WHEN v.drop_reason = 'length' THEN 4
        |         WHEN l.pred <> 'en' THEN 5
        |         ELSE 99 END AS fs
        |  FROM verd v JOIN lp l
        |    ON l.doc_id = CASE WHEN v.doc_id >= 1000000
        |                       THEN v.doc_id - 1000000 ELSE v.doc_id END),
        |drops AS (SELECT fs AS stage, COUNT(*) AS n FROM staged
        |  WHERE fs <= 5 GROUP BY fs),
        |stages(stage, stage_name) AS (VALUES
        |  (1, 'exact_dup'), (2, 'contaminated'), (3, 'low_quality'),
        |  (4, 'length'), (5, 'non_english')),
        |tot AS (SELECT COUNT(*) AS t FROM staged),
        |f AS (SELECT s.stage, s.stage_name,
        |    CAST(COALESCE(d.n, 0) AS BIGINT) AS n FROM stages s
        |  LEFT JOIN drops d ON d.stage = s.stage)
        |SELECT stage, stage_name,
        |  CAST(t - COALESCE(SUM(n) OVER (ORDER BY stage
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    AS BIGINT) AS n_in,
        |  n AS n_drop,
        |  CAST(t - COALESCE(SUM(n) OVER (ORDER BY stage
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) - n
        |    AS BIGINT) AS n_out
        |FROM f CROSS JOIN tot ORDER BY stage""".stripMargin,
    // p7: full replay — d2's exact pairwise-Jaccard ground truth (the
    // same inverted-gram-index device d2PairCtes documents: lossless
    // for J >= 0.5 since any qualifying pair shares a gram) + x29's
    // Hamilton allocation at k = N div 10 + the boundary quarantine;
    // every count crosses the gate as BIGINT
    "p7_leakage_free_split" ->
      """WITH all_docs AS (
        |  SELECT doc_id, text, lang, source FROM documents
        |  UNION ALL SELECT doc_id + 1000000, text || ' zz qq', lang, source
        |  FROM documents),
        |b AS (SELECT doc_id,
        |    list_distinct(list_transform(
        |      range(1, CAST(greatest(len(string_split(nt, ' ')) - 2, 1) AS BIGINT) + 1),
        |      i -> array_to_string((string_split(nt, ' '))[CAST(i AS INT):CAST(i AS INT)+2], ' '))) AS sh
        |  FROM (SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS nt
        |        FROM all_docs)),
        |dg AS (SELECT doc_id, len(sh) AS sz1, unnest(sh) AS g FROM b),
        |j AS (
        |  SELECT a.doc_id AS id_a, bb.doc_id AS id_b,
        |    CAST(COUNT(*) AS DOUBLE) AS common,
        |    CAST(ANY_VALUE(a.sz1) + ANY_VALUE(bb.sz1) AS DOUBLE) AS sz
        |  FROM dg a JOIN dg bb ON a.g = bb.g AND a.doc_id < bb.doc_id
        |  GROUP BY a.doc_id, bb.doc_id),
        |pr AS (SELECT id_a, id_b FROM j WHERE common / (sz - common) >= 0.5),
        |st AS (SELECT lang, source, COUNT(*) AS n_docs FROM all_docs GROUP BY 1, 2),
        |tt AS (SELECT SUM(n_docs) AS nn, SUM(n_docs) // 10 AS k FROM st),
        |al AS (SELECT lang, source, n_docs, k,
        |    (n_docs * k) // nn AS base, (n_docs * k) % nn AS rem,
        |    ROW_NUMBER() OVER (ORDER BY (n_docs * k) % nn DESC, lang, source) AS rk
        |  FROM st, tt),
        |lo AS (SELECT MAX(k) - SUM(base) AS lo FROM al),
        |a2 AS (SELECT lang, source, n_docs,
        |    least(n_docs, base + CASE WHEN rk <= lo.lo THEN 1 ELSE 0 END)
        |      AS allocated
        |  FROM al, lo),
        |rn AS (SELECT doc_id, lang, source,
        |    ROW_NUMBER() OVER (PARTITION BY lang, source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM all_docs),
        |sides AS (SELECT r.doc_id, r.lang, r.source,
        |    r.rn <= a2.allocated AS is_test
        |  FROM rn r JOIN a2 USING (lang, source)),
        |tst AS (SELECT doc_id FROM sides WHERE is_test),
        |touched AS (
        |  SELECT DISTINCT u.oid AS doc_id FROM (
        |    SELECT id_a AS tid, id_b AS oid FROM pr
        |    UNION ALL SELECT id_b, id_a FROM pr) u
        |  JOIN tst ON u.tid = tst.doc_id),
        |quar AS (SELECT s.lang, s.source, s.doc_id
        |  FROM touched t JOIN sides s ON s.doc_id = t.doc_id AND NOT s.is_test),
        |qa AS (SELECT lang, source, COUNT(*) AS n_q,
        |    md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)) AS qmd5
        |  FROM quar GROUP BY 1, 2)
        |SELECT a2.lang, a2.source, CAST(a2.n_docs AS BIGINT) AS n_docs,
        |  CAST(a2.allocated AS BIGINT) AS n_test,
        |  CAST(a2.n_docs - a2.allocated AS BIGINT) AS n_train,
        |  CAST(COALESCE(qa.n_q, 0) AS BIGINT) AS n_quarantined,
        |  CAST(a2.n_docs - a2.allocated - COALESCE(qa.n_q, 0) AS BIGINT) AS n_kept,
        |  COALESCE(qa.qmd5, md5('')) AS quarantine_md5
        |FROM a2 LEFT JOIN qa USING (lang, source)
        |ORDER BY lang, source""".stripMargin,
    "p1_curate" -> p1OracleSql,
    // p2: incremental ≡ full-run restricted to the batch — the oracle
    // IS p1's with the batch-id filter (equivalence also spec-asserted
    // in StreamingSpec's S9 batch twin)
    "p2_curate_incremental" -> p1OracleSql.replace("ORDER BY v.doc_id",
      "WHERE v.doc_id >= 1000000 ORDER BY v.doc_id"),

    "d7_decontaminate" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 1000000, text || ' zz qq' FROM documents
        |  WHERE doc_id < 20),
        |cg AS (SELECT doc_id,
        |    list_distinct(list_transform(
        |      range(1, CAST(greatest(len(string_split(nt, ' ')) - 12, 1) AS BIGINT) + 1),
        |      i -> array_to_string((string_split(nt, ' '))[CAST(i AS INT):CAST(i AS INT)+12], ' '))) AS sh
        |  FROM (SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS nt
        |        FROM corpus)),
        |eg AS (SELECT DISTINCT unnest(sh) AS g FROM cg WHERE doc_id < 20),
        |dg AS (SELECT doc_id, unnest(sh) AS g FROM cg),
        |hits AS (SELECT doc_id, COUNT(*) AS n_hits
        |  FROM dg JOIN eg USING (g) GROUP BY doc_id)
        |SELECT c.doc_id, COALESCE(h.n_hits, 0) AS n_hits,
        |  COALESCE(h.n_hits, 0) > 0 AS contaminated
        |FROM (SELECT doc_id FROM corpus) c LEFT JOIN hits h USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    // corpus-internal dup spans recomputed on shingle STRINGS (the d7
    // precedent): per-doc DISTINCT 13-grams (shingleHashes dedupes),
    // document frequency > 1 marks the shared vocabulary, and each
    // doc counts how many of its grams are in it. Exact copies of
    // docs < 20 land shared_frac = 1; the 5-word-prefixed copies of
    // 20-39 share only interior grams.
    "d8_dup_spans" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 1000000, text FROM documents
        |  WHERE doc_id < 20
        |  UNION ALL SELECT doc_id + 2000000, 'qq ww ee rr tt ' || text
        |  FROM documents WHERE doc_id >= 20 AND doc_id < 40),
        |cg AS (SELECT doc_id,
        |    list_distinct(list_transform(
        |      range(1, CAST(greatest(len(string_split(nt, ' ')) - 12, 1) AS BIGINT) + 1),
        |      i -> array_to_string((string_split(nt, ' '))[CAST(i AS INT):CAST(i AS INT)+12], ' '))) AS sh
        |  FROM (SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS nt
        |        FROM corpus)),
        |dg AS (SELECT doc_id, unnest(sh) AS g FROM cg),
        |dupg AS (SELECT g FROM dg GROUP BY g HAVING COUNT(*) > 1),
        |shr AS (SELECT doc_id, COUNT(*) AS n_shared
        |  FROM dg JOIN dupg USING (g) GROUP BY doc_id)
        |SELECT c.doc_id, CAST(len(c.sh) AS BIGINT) AS n_grams,
        |  COALESCE(s.n_shared, 0) AS n_shared,
        |  ROUND(COALESCE(s.n_shared, 0) / CAST(len(c.sh) AS DOUBLE), 6) AS shared_frac
        |FROM cg c LEFT JOIN shr s USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    // d20: the suffix-array semantics replayed on gram STRINGS (no
    // hashes — an engine-side xxhash64 collision would surface as a
    // mismatch here): positional 13-gram equality join, diagonal
    // islands via the pos - row_number device, island size + 12 =
    // maximal span length. Same planted corpus as d8.
    // (shared WITH chain: d20SpanCtes below the map)
    "d20_exact_substrings" ->
      s"""$d20SpanCtes
        |SELECT id_a, id_b, CAST(MIN(pos_a) AS BIGINT) AS start_a,
        |  CAST(MIN(pos_b) AS BIGINT) AS start_b,
        |  CAST(COUNT(*) + 12 AS BIGINT) AS span_tokens
        |FROM isl GROUP BY id_a, id_b, diag, island
        |ORDER BY id_a, id_b, start_a, start_b""".stripMargin,
    // d21: d20's span chain + the removal replay — later (b-side)
    // occurrences cut, per-doc interval UNION via the same
    // max-over-preceding island device the Spark side's
    // Intervals.merge uses (ordered by (s, e) on both engines), kept
    // tokens re-assembled in position order and compared VERBATIM
    "d21_substring_removal" -> d21RemovalSql,
    // d23: the OWNED (pair-free) removal must produce the identical
    // rewrite — same corpus, same oracle, verbatim (the equality is
    // also spec-proven in ExactSubstrSpec; here the DuckDB gate
    // certifies it against the independent pair-form replay)
    "d23_substring_removal_owned" -> d23RemovalSql,
    // d24: the d20 island chain restricted to POOL × BATCH occurrence
    // pairs (no ordered-pair filter — id spaces are disjoint by
    // construction), replayed on gram STRINGS like d20; the reversal
    // arm re-derives the batch text with the same list_reverse the d9
    // oracle uses
    "d24_cross_substrings" ->
      """WITH tkp AS (SELECT doc_id,
        |    string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS ts
        |  FROM documents),
        |batch AS (
        |  SELECT doc_id + 5000000 AS doc_id, text FROM documents WHERE doc_id < 15
        |  UNION ALL SELECT doc_id + 5000000, 'qq ww ee rr tt ' || text
        |  FROM documents WHERE doc_id >= 15 AND doc_id < 30
        |  UNION ALL SELECT doc_id + 5000000,
        |    array_to_string(list_reverse(string_split(
        |      trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')), ' ')
        |  FROM documents WHERE doc_id >= 30 AND doc_id < 45),
        |tkb AS (SELECT doc_id,
        |    string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS ts
        |  FROM batch),
        |gp0 AS (SELECT doc_id, ts, unnest(generate_series(1, len(ts) - 12)) AS i
        |  FROM tkp WHERE len(ts) >= 13),
        |gp AS (SELECT doc_id, i - 1 AS pos,
        |    array_to_string(ts[CAST(i AS INT):CAST(i AS INT) + 12], ' ') AS gs
        |  FROM gp0),
        |gb0 AS (SELECT doc_id, ts, unnest(generate_series(1, len(ts) - 12)) AS i
        |  FROM tkb WHERE len(ts) >= 13),
        |gb AS (SELECT doc_id, i - 1 AS pos,
        |    array_to_string(ts[CAST(i AS INT):CAST(i AS INT) + 12], ' ') AS gs
        |  FROM gb0),
        |p AS (SELECT a.doc_id AS id_a, a.pos AS pos_a,
        |    b.doc_id AS id_b, b.pos AS pos_b
        |  FROM gp a JOIN gb b ON a.gs = b.gs),
        |isl AS (SELECT id_a, id_b, pos_a, pos_b, pos_a - pos_b AS diag,
        |    pos_a - ROW_NUMBER() OVER (PARTITION BY id_a, id_b, pos_a - pos_b
        |      ORDER BY pos_a) AS island
        |  FROM p)
        |SELECT id_a, id_b, CAST(MIN(pos_a) AS BIGINT) AS start_a,
        |  CAST(MIN(pos_b) AS BIGINT) AS start_b,
        |  CAST(COUNT(*) + 12 AS BIGINT) AS span_tokens
        |FROM isl GROUP BY id_a, id_b, diag, island
        |ORDER BY id_a, id_b, start_a, start_b""".stripMargin,
    // d22: grouped d20 — identity groups over normalized text, the
    // SAME positional-gram/island chain over REPRESENTATIVES only,
    // then the four multiplicity rules (cross |A|·|B|; within
    // G + C(G,2); mirror C(G,2); diagonal-0 full-document C(G,2))
    // as a UNION ALL, replayed on gram STRINGS like d20
    "d22_substrings_grouped" ->
      s"""$d22GroupedCtes
        |SELECT id_a, id_b, CAST(start_a AS BIGINT) AS start_a,
        |  CAST(start_b AS BIGINT) AS start_b,
        |  CAST(span_tokens AS BIGINT) AS span_tokens,
        |  CAST(n_pairs AS BIGINT) AS n_pairs
        |FROM (
        |  SELECT s.id_a, s.id_b, s.start_a, s.start_b, s.span_tokens,
        |    sa.gsz * sb.gsz AS n_pairs
        |  FROM spans s JOIN sz sa ON s.id_a = sa.rep
        |    JOIN sz sb ON s.id_b = sb.rep
        |  WHERE s.id_a <> s.id_b
        |  UNION ALL
        |  SELECT s.id_a, s.id_b, s.start_a, s.start_b, s.span_tokens,
        |    z.gsz + z.gsz * (z.gsz - 1) // 2
        |  FROM spans s JOIN sz z ON s.id_a = z.rep WHERE s.id_a = s.id_b
        |  UNION ALL
        |  SELECT s.id_a, s.id_b, s.start_b, s.start_a, s.span_tokens,
        |    z.gsz * (z.gsz - 1) // 2
        |  FROM spans s JOIN sz z ON s.id_a = z.rep
        |  WHERE s.id_a = s.id_b AND z.gsz >= 2
        |  UNION ALL
        |  SELECT t.doc_id, t.doc_id, 0, 0, len(t.ts),
        |    t.gsz * (t.gsz - 1) // 2
        |  FROM tk t WHERE t.gsz >= 2 AND len(t.ts) >= 13
        |)
        |ORDER BY id_a, id_b, start_a, start_b""".stripMargin,
    // incremental dedup replayed as the all-pairs ground truth: every
    // batch doc against every pool doc with a smaller id (corpus ids
    // all precede batch ids here, so in_corpus OR pid < id reduces to
    // pid < id), jaccard on distinct 3-gram STRINGS (the d2 precedent;
    // hash-match doubles as a 100%-recall proof for the index join),
    // smallest matching id kept via row_number
    "d9_incremental_dedup" ->
      """WITH batch AS (
        |  SELECT doc_id + 5000000 AS doc_id, text FROM documents WHERE doc_id < 15
        |  UNION ALL SELECT doc_id + 5000000, text || ' zz qq' FROM documents
        |  WHERE doc_id >= 15 AND doc_id < 30
        |  UNION ALL SELECT doc_id + 5000000,
        |    array_to_string(list_reverse(string_split(
        |      trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')), ' ')
        |  FROM documents WHERE doc_id >= 30 AND doc_id < 45
        |  UNION ALL SELECT doc_id + 6000000,
        |    array_to_string(list_reverse(string_split(
        |      trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')), ' ')
        |  FROM documents WHERE doc_id >= 30 AND doc_id < 38),
        |pool AS (SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id, text FROM batch),
        |psh AS (SELECT doc_id,
        |    list_distinct(list_transform(
        |      range(1, CAST(greatest(len(string_split(nt, ' ')) - 2, 1) AS BIGINT) + 1),
        |      i -> array_to_string((string_split(nt, ' '))[CAST(i AS INT):CAST(i AS INT)+2], ' '))) AS sh
        |  FROM (SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS nt
        |        FROM pool)),
        |bsh AS (SELECT doc_id, sh FROM psh WHERE doc_id >= 5000000),
        |v AS (SELECT b.doc_id AS id, p.doc_id AS pid,
        |    CAST(len(list_intersect(b.sh, p.sh)) AS DOUBLE) AS common,
        |    CAST(len(b.sh) + len(p.sh) AS DOUBLE) AS sz
        |  FROM bsh b JOIN psh p ON p.doc_id < b.doc_id),
        |hit AS (SELECT id, pid, common / (sz - common) AS jac FROM v
        |  WHERE common / (sz - common) >= 0.5),
        |best AS (SELECT id, pid, jac,
        |    ROW_NUMBER() OVER (PARTITION BY id ORDER BY pid) AS rn FROM hit)
        |SELECT b.doc_id, h.pid IS NOT NULL AS is_dup, h.pid AS dup_of,
        |  ROUND(h.jac, 6) AS jaccard
        |FROM (SELECT doc_id FROM batch) b
        |LEFT JOIN (SELECT * FROM best WHERE rn = 1) h ON h.id = b.doc_id
        |ORDER BY b.doc_id""".stripMargin,
    // URL census on the same planted text; regexp_extract_all group 1
    // with a pure character-class pattern parses identically under
    // Java regex and RE2
    "x15_url_domains" ->
      """WITH planted AS (SELECT doc_id,
        |    'see https://site' || CAST(doc_id % 50 AS VARCHAR) ||
        |    '.example.com/p/' || CAST(doc_id AS VARCHAR) ||
        |    ' and http://www.ref' || CAST(doc_id % 7 AS VARCHAR) ||
        |    '.org ' || text AS text
        |  FROM documents),
        |d AS (SELECT doc_id,
        |    unnest(list_distinct(regexp_extract_all(lower(text),
        |      'https?://([a-z0-9.-]+)', 1))) AS domain
        |  FROM planted)
        |SELECT domain, COUNT(*) AS n_docs FROM d
        |GROUP BY domain ORDER BY domain""".stripMargin,
    // alpha=0 mixture: S = group count (exact), rate chain
    // T * (1.0/G) / cnt left-associated as on the Spark side; the keep
    // coin compares the UNROUNDED rate on both engines
    "x10_mixture_sample" ->
      """WITH c AS (SELECT source, COUNT(*) AS cnt FROM documents GROUP BY source),
        |g AS (SELECT COUNT(*) AS ng FROM c),
        |r AS (SELECT source,
        |    LEAST(1.0, 250 * (1.0 / (SELECT ng FROM g)) / cnt) AS rate FROM c)
        |SELECT d.source, d.doc_id, ROUND(r.rate, 6) AS rate,
        |  (CAST(CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS DOUBLE)
        |    / 1152921504606846976.0) < r.rate AS kept
        |FROM documents d JOIN r USING (source)
        |ORDER BY source, doc_id""".stripMargin,
    // x25: ξ = u / w replayed with the identical md5-uniform and one
    // division; rank (ξ asc, id asc), k = 5 per source
    "x25_weighted_sample" ->
      """WITH d AS (SELECT source, doc_id,
        |    CAST(length(text) AS DOUBLE) AS w,
        |    (CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
        |        AS BIGINT) AS DOUBLE) / 1152921504606846976.0) AS u
        |  FROM documents),
        |r AS (SELECT source, doc_id, w, u / w AS xi,
        |    ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY u / w ASC, doc_id ASC) AS rn
        |  FROM d WHERE w > 0)
        |SELECT source, doc_id, w, xi FROM r WHERE rn <= 5
        |ORDER BY source, doc_id""".stripMargin,
    // quota rank mirrors TopKAgg's (score desc, id asc) with
    // score = -double(md5-prefix): hash asc, id asc
    "x9_source_quota" ->
      """SELECT source, doc_id, rk FROM (
        |  SELECT source, doc_id, CAST(ROW_NUMBER() OVER (PARTITION BY source
        |    ORDER BY CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS DOUBLE) ASC,
        |      doc_id ASC) AS INT) AS rk
        |  FROM documents) t
        |WHERE rk <= 18 ORDER BY source, rk""".stripMargin,
    "x11_bm25" -> x11OracleSql,
    "s6_hybrid_rrf" -> s6OracleSql,
    // x26: identical relining + identical content-derived plants,
    // replayed with DuckDB's index-free list lambdas; md5 over the
    // same reconstructed kept-lines bytes
    // x27: rule-for-rule regexp replay — same patterns, same pinned
    // entity order (&amp; last), 'g' flags for DuckDB's default-first
    // semantics, one identical IEEE density division
    "x27_html_strip" ->
      """WITH h AS (SELECT doc_id,
        |    '<html><head><title>Doc ' || doc_id ||
        |    '</title><script type="text/js">var x=' || doc_id ||
        |    ';</script></head><body><nav><a href="/home">Home</a> ' ||
        |    '<a href="/about">About page</a></nav>' ||
        |    '<p>Q&amp;A &lt;sample&gt; &quot;quote&quot;</p><p>' || text ||
        |    '</p><div class="footer"><a href="/contact">Contact us</a>' ||
        |    '</div></body></html>' AS html
        |  FROM documents),
        |s1 AS (SELECT doc_id, html,
        |    regexp_replace(regexp_replace(regexp_replace(html,
        |      '<script[^>]*>.*?</script>', ' ', 'g'),
        |      '<style[^>]*>.*?</style>', ' ', 'g'),
        |      '<[^>]*>', ' ', 'g') AS t FROM h),
        |s2 AS (SELECT doc_id, html,
        |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |      regexp_replace(t, '&lt;', '<', 'g'), '&gt;', '>', 'g'),
        |      '&quot;', '"', 'g'), '&#39;', chr(39), 'g'),
        |      '&amp;', '&', 'g') AS t FROM s1),
        |v AS (SELECT doc_id, html,
        |    trim(regexp_replace(t, '\s+', ' ', 'g')) AS visible FROM s2)
        |SELECT doc_id, md5(visible) AS visible_md5,
        |  CAST(length(visible) AS BIGINT) AS visible_chars,
        |  CAST(len(regexp_extract_all(html, '<[^>]*>', 0)) AS BIGINT) AS n_tags,
        |  CAST(COALESCE(list_sum(list_transform(
        |    regexp_extract_all(html, '<a [^>]*>(.*?)</a>', 1),
        |    x -> length(x))), 0) AS BIGINT) AS link_chars,
        |  CAST(COALESCE(list_sum(list_transform(
        |    regexp_extract_all(html, '<a [^>]*>(.*?)</a>', 1),
        |    x -> length(x))), 0) AS DOUBLE)
        |    / CAST(length(visible) AS DOUBLE) AS link_density
        |FROM v ORDER BY doc_id""".stripMargin,
    "x26_c4_filters" ->
      """WITH w0 AS (SELECT doc_id, string_split(text, ' ') AS ws0
        |  FROM documents),
        |s0 AS (SELECT doc_id,
        |    list_transform(generate_series(0, CAST(CEIL(len(ws0)/10.0) AS INT) - 1),
        |      i -> array_to_string(ws0[(i*10+1):(i*10+10)], ' ')) AS segs
        |  FROM w0),
        |s1 AS (SELECT doc_id, list_transform(segs,
        |      l -> CASE WHEN length(l) % 2 = 0 THEN l || '.' ELSE l END)
        |      AS segs
        |  FROM s0),
        |s2 AS (SELECT doc_id, CASE WHEN doc_id % 13 = 0
        |      THEN list_append(segs, 'var x = { javascript }')
        |      ELSE segs END AS segs
        |  FROM s1),
        |s3 AS (SELECT doc_id, CASE WHEN doc_id % 23 = 0
        |      THEN list_append(segs, 'lorem ipsum dolor sit amet.')
        |      ELSE segs END AS segs
        |  FROM s2),
        |k AS (SELECT doc_id, segs,
        |    list_filter(segs, l -> (l LIKE '%.' OR l LIKE '%!'
        |      OR l LIKE '%?' OR l LIKE '%"')
        |      AND len(string_split(l, ' ')) >= 3
        |      AND NOT contains(lower(l), 'javascript')) AS kept,
        |    array_to_string(segs, chr(10)) AS mtext
        |  FROM s3)
        |SELECT doc_id,
        |  CAST(len(segs) AS BIGINT) AS n_lines,
        |  CAST(len(kept) AS BIGINT) AS n_kept,
        |  contains(mtext, '{') AS has_curly,
        |  contains(lower(mtext), 'lorem ipsum') AS has_lorem,
        |  len(kept) >= 3 AND NOT contains(mtext, '{')
        |    AND NOT contains(lower(mtext), 'lorem ipsum') AS doc_keep,
        |  md5(COALESCE(array_to_string(kept, chr(10)), '')) AS kept_md5
        |FROM k ORDER BY doc_id""".stripMargin,
    // greedy packing replayed as a recursive CTE chained on the
    // per-source row_number; the UNION ALL step carries (bin, fill)
    // state exactly like the Spark side's streaming scan
    "x12_pack" ->
      s"""WITH RECURSIVE base AS (SELECT doc_id, source,
        |    CAST(len(string_split($normSql, ' ')) AS INT) AS n_tok,
        |    CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id) AS INT) AS rn
        |  FROM documents),
        |rec AS (
        |  SELECT source, doc_id, n_tok, rn, CAST(0 AS BIGINT) AS bin_id,
        |    n_tok AS fill, CAST(0 AS INT) AS bin_pos
        |  FROM base WHERE rn = 1
        |  UNION ALL
        |  SELECT b.source, b.doc_id, b.n_tok, b.rn,
        |    CAST(CASE WHEN r.fill + b.n_tok <= 256 THEN r.bin_id
        |      ELSE r.bin_id + 1 END AS BIGINT),
        |    CAST(CASE WHEN r.fill + b.n_tok <= 256 THEN r.fill + b.n_tok
        |      ELSE b.n_tok END AS INT),
        |    CAST(CASE WHEN r.fill + b.n_tok <= 256 THEN r.bin_pos + 1
        |      ELSE 0 END AS INT)
        |  FROM rec r JOIN base b ON b.source = r.source AND b.rn = r.rn + 1)
        |SELECT source, doc_id, n_tok, bin_id, bin_pos, n_tok > 256 AS oversize
        |FROM rec ORDER BY source, doc_id""".stripMargin,
    // exact GROUP BY counts: valid because the MG capacity exceeds the
    // corpus vocabulary (no decrement ever fires), which the hash-match
    // itself then proves
    "x14_heavy_hitters" ->
      s"""WITH base AS (SELECT string_split($normSql, ' ') AS toks FROM documents),
        |tok AS (SELECT unnest(toks) AS tok FROM base)
        |SELECT tok AS item, COUNT(*) AS cnt FROM tok GROUP BY tok
        |ORDER BY cnt DESC, item LIMIT 20""".stripMargin,
    // unigram perplexity: per-token ln p rounded to 9 decimals and
    // summed as DECIMAL — exact and order-free on both engines (the
    // dsum pattern), so the per-doc mean is partitioning-independent;
    // emitted log-domain (ln_ppl) with the VARCHAR-routed decimal cast
    // — a terminal exp put libm's last ulp ON the 6-dp grid at len_k10
    "x13_unigram_ppl" ->
      s"""WITH base AS (SELECT doc_id, string_split($normSql, ' ') AS toks
        |  FROM documents),
        |tok AS (SELECT doc_id, unnest(toks) AS tok FROM base),
        |counts AS (SELECT tok, COUNT(*) AS cnt FROM tok GROUP BY tok),
        |st AS (SELECT SUM(cnt) AS total FROM counts),
        |vocab AS (SELECT tok, cnt FROM counts ORDER BY cnt DESC, tok LIMIT 32),
        |sc AS (SELECT t.doc_id,
        |    CAST(ROUND(ln(COALESCE(CAST(v.cnt AS DOUBLE), 0.5) / st.total), 9)
        |      AS DECIMAL(18,9)) AS lp
        |  FROM tok t LEFT JOIN vocab v ON t.tok = v.tok, st)
        |SELECT doc_id, COUNT(*) AS n_tok,
        |  ROUND(-(CAST(CAST(SUM(lp) AS VARCHAR) AS DOUBLE) / COUNT(*)), 6)
        |    AS ln_ppl
        |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // x44: identical gram/hash/argmin machinery — md5-prefix integers,
    // rightmost-min per window recovered order-free as MAX(j) among
    // positions achieving the window MIN, DISTINCT (pos, fp) pairs
    "x44_winnowing" ->
      s"""WITH d AS (SELECT doc_id, string_split($normSql, ' ') AS toks
        |  FROM documents),
        |g AS (SELECT doc_id,
        |    list_transform(range(0, CAST(len(toks) - 3 AS BIGINT)),
        |      i -> array_to_string(
        |        toks[CAST(i AS INT) + 1:CAST(i AS INT) + 4], ' ')) AS grams
        |  FROM d WHERE len(toks) >= 8),
        |h AS (SELECT doc_id, list_transform(grams,
        |    x -> CAST('0x' || substr(md5(x), 1, 15) AS BIGINT)) AS hs
        |  FROM g),
        |w AS (SELECT doc_id, hs,
        |    CAST(unnest(range(0, CAST(len(hs) - 4 AS BIGINT))) AS BIGINT)
        |      AS s
        |  FROM h),
        |wj AS (SELECT doc_id, hs, s,
        |    CAST(unnest(range(0, 5)) AS BIGINT) AS o FROM w),
        |e AS (SELECT doc_id, s, s + o AS j,
        |    hs[CAST(s + o AS INT) + 1] AS hj FROM wj),
        |mn AS (SELECT doc_id, s, MIN(hj) AS mh FROM e GROUP BY 1, 2),
        |sel AS (SELECT e.doc_id, MAX(e.j) AS pos, mn.mh AS fp
        |  FROM e JOIN mn ON e.doc_id = mn.doc_id AND e.s = mn.s
        |    AND e.hj = mn.mh
        |  GROUP BY e.doc_id, e.s, mn.mh),
        |dd AS (SELECT DISTINCT doc_id, pos, fp FROM sel)
        |SELECT doc_id, pos, fp FROM dd ORDER BY doc_id, pos""".stripMargin,
    // x45: identical tokenization, delimiter rule (stoplist
    // interpolated from TextAnalysis.rakeStopwords + non-[a-z0-9]
    // regex), deg/freq division rounded to 9 dp into DECIMAL (the
    // q59 device) so phrase sums are exact on both engines
    "x45_rake" -> {
      val stops = graft.operators.TextAnalysis.rakeStopwords
        .map(s => s"'$s'").mkString(", ")
      s"""WITH d AS (SELECT doc_id, string_split($normSql, ' ') AS toks
        |  FROM documents),
        |t AS (SELECT doc_id, toks,
        |    CAST(unnest(range(0, CAST(len(toks) AS BIGINT))) AS BIGINT)
        |      AS p FROM d),
        |fl AS (SELECT doc_id, p, toks[CAST(p AS INT) + 1] AS tok,
        |    (toks[CAST(p AS INT) + 1] IN ($stops)
        |     OR regexp_matches(toks[CAST(p AS INT) + 1], '[^a-z0-9]')
        |     OR toks[CAST(p AS INT) + 1] = '') AS delim FROM t),
        |mem AS (SELECT doc_id, p, tok, grp FROM (
        |    SELECT doc_id, p, tok, delim,
        |      SUM(CASE WHEN delim THEN 1 ELSE 0 END)
        |        OVER (PARTITION BY doc_id ORDER BY p) AS grp
        |    FROM fl) WHERE NOT delim),
        |ph AS (SELECT doc_id, grp,
        |    string_agg(tok, ' ' ORDER BY p) AS phrase, COUNT(*) AS plen
        |  FROM mem GROUP BY doc_id, grp),
        |ws AS (SELECT m.doc_id, m.tok,
        |    CAST(ROUND(CAST(SUM(pp.plen) AS DOUBLE) / COUNT(*), 9)
        |      AS DECIMAL(18,9)) AS wscore
        |  FROM mem m JOIN ph pp ON m.doc_id = pp.doc_id AND m.grp = pp.grp
        |  GROUP BY m.doc_id, m.tok),
        |psc AS (SELECT m.doc_id, m.grp, SUM(w.wscore) AS pscore
        |  FROM mem m JOIN ws w ON m.doc_id = w.doc_id AND m.tok = w.tok
        |  GROUP BY m.doc_id, m.grp),
        |sc AS (SELECT pp.doc_id, pp.phrase, MAX(s.pscore) AS score,
        |    COUNT(*) AS n_occur
        |  FROM psc s JOIN ph pp ON s.doc_id = pp.doc_id AND s.grp = pp.grp
        |  GROUP BY pp.doc_id, pp.phrase),
        |rk AS (SELECT doc_id, phrase, score, n_occur,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id
        |      ORDER BY score DESC, phrase) AS rank FROM sc)
        |SELECT doc_id, CAST(rank AS INT) AS rank, phrase,
        |  CAST(score * 1000000000 AS BIGINT) AS score_e9, n_occur
        |FROM rk WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin
    },
    // x43: identical counts (RE2 and java.util.regex agree on these
    // plain character-class patterns), identical pinned expressions;
    // the 3-dp constants are small-int/1000 — the same double on both
    // engines by correctly-rounded division either way
    "x43_readability" ->
      s"""WITH d AS (SELECT doc_id, text, string_split($normSql, ' ') AS toks
        |  FROM documents),
        |c AS (SELECT doc_id,
        |    CAST(len(toks) AS BIGINT) AS n_words,
        |    CAST(GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1)
        |      AS BIGINT) AS n_sentences,
        |    CAST(list_sum(list_transform(toks, w ->
        |      GREATEST(len(regexp_extract_all(w, '[aeiouy]+')), 1)))
        |      AS BIGINT) AS n_syllables
        |  FROM d)
        |SELECT doc_id, n_words, n_sentences, n_syllables,
        |  ROUND(CAST(206.835 AS DOUBLE)
        |    - CAST(1.015 AS DOUBLE)
        |      * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
        |    - CAST(84.6 AS DOUBLE)
        |      * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE)), 6)
        |    + 0.0 AS reading_ease,
        |  ROUND(CAST(0.39 AS DOUBLE)
        |      * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
        |    + CAST(11.8 AS DOUBLE)
        |      * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE))
        |    - CAST(15.59 AS DOUBLE), 6) + 0.0 AS fk_grade
        |FROM c WHERE n_words > 0 ORDER BY doc_id""".stripMargin,
    // x42: x13's proven ppl chain as a CTE + the identical per-lang
    // rank window; terciles are pure integer comparisons (rk·3 vs n)
    "x42_ccnet_buckets" ->
      s"""WITH base AS (SELECT doc_id, string_split($normSql, ' ') AS toks
        |  FROM documents),
        |tok AS (SELECT doc_id, unnest(toks) AS tok FROM base),
        |counts AS (SELECT tok, COUNT(*) AS cnt FROM tok GROUP BY tok),
        |st AS (SELECT SUM(cnt) AS total FROM counts),
        |vocab AS (SELECT tok, cnt FROM counts ORDER BY cnt DESC, tok LIMIT 32),
        |sc AS (SELECT t.doc_id,
        |    CAST(ROUND(ln(COALESCE(CAST(v.cnt AS DOUBLE), 0.5) / st.total), 9)
        |      AS DECIMAL(18,9)) AS lp
        |  FROM tok t LEFT JOIN vocab v ON t.tok = v.tok, st),
        |p AS (SELECT doc_id,
        |    ROUND(-(CAST(CAST(SUM(lp) AS VARCHAR) AS DOUBLE) / COUNT(*)), 6)
        |      AS ln_ppl
        |  FROM sc GROUP BY doc_id),
        |pl AS (SELECT d.doc_id, d.lang, p.ln_ppl
        |  FROM documents d JOIN p ON d.doc_id = p.doc_id),
        |rk AS (SELECT doc_id, lang, ln_ppl,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY lang
        |      ORDER BY ln_ppl, doc_id) AS INT) AS rk,
        |    COUNT(*) OVER (PARTITION BY lang) AS n
        |  FROM pl)
        |SELECT doc_id, lang, ln_ppl, rk,
        |  CASE WHEN rk * 3 <= n THEN 'head'
        |       WHEN rk * 3 <= n * 2 THEN 'middle'
        |       ELSE 'tail' END AS bucket
        |FROM rk ORDER BY doc_id""".stripMargin,
    // x24: identical Laplace smoothing over the shared vocabulary and
    // the identical IEEE sequence ROUND(p * ln(p/q), 9) (+0.0 kills
    // −0); counts cast to BIGINT (DuckDB SUM yields HUGEINT)
    "x24_kl_drift" ->
      s"""WITH base AS (SELECT lang = 'en' AS in_a,
        |    string_split($normSql, ' ') AS toks FROM documents),
        |tok AS (SELECT in_a, unnest(toks) AS tok FROM base),
        |counts AS (SELECT tok,
        |    CAST(SUM(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS c_a,
        |    CAST(SUM(CASE WHEN in_a THEN 0 ELSE 1 END) AS BIGINT) AS c_b
        |  FROM tok GROUP BY tok),
        |st AS (SELECT CAST(SUM(c_a) AS BIGINT) AS na,
        |    CAST(SUM(c_b) AS BIGINT) AS nb, COUNT(*) AS v FROM counts),
        |p AS (SELECT tok, c_a, c_b,
        |    CAST(c_a + 1 AS DOUBLE) / CAST(na + v AS DOUBLE) AS p_a,
        |    CAST(c_b + 1 AS DOUBLE) / CAST(nb + v AS DOUBLE) AS p_b
        |  FROM counts, st)
        |SELECT tok, c_a, c_b,
        |  ROUND(p_a * ln(p_a / p_b), 9) + 0.0 AS kl_ab_term,
        |  ROUND(p_b * ln(p_b / p_a), 9) + 0.0 AS kl_ba_term
        |FROM p ORDER BY tok""".stripMargin,
    // repetition signals recomputed with unnest + two-level GROUP BY;
    // integer '/' is float division on both engines, and the flag is
    // evaluated on the ROUNDED fractions exactly as the Spark side does
    "x8_repetition" ->
      """WITH base AS (SELECT doc_id,
        |    string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS toks
        |  FROM documents),
        |b2 AS (SELECT doc_id, toks, len(toks) AS n_tok FROM base),
        |uni AS (SELECT doc_id, MAX(cnt) AS top_tok FROM (
        |    SELECT doc_id, tok, COUNT(*) AS cnt
        |    FROM (SELECT doc_id, unnest(toks) AS tok FROM b2)
        |    GROUP BY doc_id, tok) GROUP BY doc_id),
        |bi AS (SELECT doc_id, MAX(cnt) AS top_bi FROM (
        |    SELECT doc_id, bg, COUNT(*) AS cnt FROM (
        |      SELECT doc_id,
        |        unnest(list_transform(range(1, CAST(n_tok AS BIGINT)),
        |          i -> toks[CAST(i AS INT)] || ' ' || toks[CAST(i AS INT) + 1])) AS bg
        |      FROM b2 WHERE n_tok >= 2)
        |    GROUP BY doc_id, bg) GROUP BY doc_id),
        |g5 AS (SELECT doc_id, n_tok,
        |    CASE WHEN n_tok >= 5 THEN
        |      1.0 - CAST(len(list_distinct(l5)) AS DOUBLE) / len(l5)
        |    ELSE 0.0 END AS dup5
        |  FROM (SELECT doc_id, n_tok,
        |      list_transform(range(1, CAST(n_tok AS BIGINT) - 3),
        |        i -> array_to_string(toks[CAST(i AS INT):CAST(i AS INT) + 4], ' ')) AS l5
        |    FROM b2)),
        |f AS (SELECT g5.doc_id, g5.n_tok,
        |    ROUND(COALESCE(uni.top_tok / g5.n_tok, 0.0), 6) AS top_tok_frac,
        |    ROUND(COALESCE(bi.top_bi / (g5.n_tok - 1), 0.0), 6) AS top_bigram_frac,
        |    ROUND(g5.dup5, 6) AS dup_5gram_frac
        |  FROM g5 LEFT JOIN uni ON g5.doc_id = uni.doc_id
        |    LEFT JOIN bi ON g5.doc_id = bi.doc_id)
        |SELECT doc_id, n_tok, top_tok_frac, top_bigram_frac, dup_5gram_frac,
        |  (top_tok_frac > 0.2 OR top_bigram_frac > 0.18 OR dup_5gram_frac > 0.3)
        |    AS repetitive
        |FROM f ORDER BY doc_id""".stripMargin,
    // transitive closure of the d2 pair graph as a recursive CTE —
    // with an IDENTITY PRE-COLLAPSE so the replay stays feasible on
    // bit-identical duplication mass (the dup axis: a 5000-member
    // identical group makes the doc-level closure Σ|C|² ≈ 10⁸ rows and
    // the r11 dup_k10 replay timed out at 3600 s; this form runs it in
    // 45 s). Lossless: docs with equal normalized text have EQUAL
    // shingle sets, hence identical Jaccard against every third doc
    // and J = 1 ≥ 0.5 with each other — so (a) the pair graph restricted
    // to representatives plus a self-edge for groups of size ≥ 2 has
    // exactly the same components as the doc-level graph expanded by
    // group membership, (b) the component's min doc id equals the min
    // rep (reps are group-min ids), and (c) cluster_size = Σ gsz.
    // Proven BIT-IDENTICAL to the direct doc-level closure at
    // sf0.001, sf0.01 and dup_k1 before the swap (r12; the r9 d19
    // blocked-rewrite protocol). Cluster id = MIN reachable. The
    // Spark side runs log-round pointer-jump CC over ALL docs; the
    // hash-match proves the fixpoint labels.
    "d6_dup_clusters" ->
      """WITH RECURSIVE all_docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 1000000, text || ' zz qq' FROM documents),
        |nrm AS (SELECT doc_id,
        |    trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS nt
        |  FROM all_docs),
        |grp AS (SELECT nt, MIN(doc_id) AS rep, COUNT(*) AS gsz
        |  FROM nrm GROUP BY nt),
        |b AS (SELECT rep AS doc_id,
        |    list_distinct(list_transform(
        |      range(1, CAST(greatest(len(string_split(nt, ' ')) - 2, 1) AS BIGINT) + 1),
        |      i -> array_to_string((string_split(nt, ' '))[CAST(i AS INT):CAST(i AS INT)+2], ' '))) AS sh
        |  FROM grp),
        |dg AS (SELECT doc_id, len(sh) AS sz1, unnest(sh) AS g FROM b),
        |j AS (
        |  SELECT a.doc_id AS id_a, bb.doc_id AS id_b,
        |    CAST(COUNT(*) AS DOUBLE) AS common,
        |    CAST(ANY_VALUE(a.sz1) + ANY_VALUE(bb.sz1) AS DOUBLE) AS sz
        |  FROM dg a JOIN dg bb ON a.g = bb.g AND a.doc_id < bb.doc_id
        |  GROUP BY a.doc_id, bb.doc_id),
        |rpairs AS (SELECT id_a, id_b FROM j WHERE common / (sz - common) >= 0.5),
        |redges AS (SELECT id_a AS s, id_b AS d FROM rpairs
        |           UNION SELECT id_b, id_a FROM rpairs
        |           UNION SELECT rep, rep FROM grp WHERE gsz >= 2),
        |reach(id, r) AS (
        |  SELECT s, s FROM redges
        |  UNION
        |  SELECT re.id, e.d FROM reach re JOIN redges e ON e.s = re.r),
        |rcc AS (SELECT id AS rep, MIN(r) AS cluster_rep FROM reach GROUP BY id),
        |csz AS (SELECT c.cluster_rep,
        |    CAST(SUM(g.gsz) AS BIGINT) AS cluster_size
        |  FROM rcc c JOIN grp g ON g.rep = c.rep GROUP BY c.cluster_rep),
        |mem AS (SELECT n.doc_id, g.rep FROM nrm n JOIN grp g ON n.nt = g.nt)
        |SELECT m.doc_id, c.cluster_rep AS cluster_id, s.cluster_size,
        |  m.doc_id = c.cluster_rep AS keep
        |FROM mem m JOIN rcc c ON m.rep = c.rep
        |  JOIN csz s ON c.cluster_rep = s.cluster_rep
        |ORDER BY doc_id""".stripMargin,
    // d19: d6's CC chain + x2's verbatim quality fragment on the same
    // copies corpus, survivor = rn 1 over (q DESC, id ASC) per cluster
    // — the first-principles argmax the Spark max-of-struct must equal
    "d19_quality_survivor" ->
      s"""$d2PairCtes,
        |pairs AS (SELECT id_a, id_b FROM j WHERE common / (sz - common) >= 0.5),
        |edges AS (SELECT id_a AS s, id_b AS d FROM pairs
        |          UNION SELECT id_b, id_a FROM pairs),
        |reach(id, r) AS (
        |  SELECT s, s FROM edges
        |  UNION
        |  SELECT re.id, e.d FROM reach re JOIN edges e ON e.s = re.r),
        |cc AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id),
        |csz AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM cc
        |  GROUP BY cluster_id),
        |qv AS (SELECT doc_id, $qScoreSql AS q FROM all_docs),
        |jn AS (SELECT cc.id, cc.cluster_id, csz.cluster_size, qv.q
        |  FROM cc JOIN csz USING (cluster_id) JOIN qv ON qv.doc_id = cc.id),
        |rk AS (SELECT jn.*, ROW_NUMBER() OVER (PARTITION BY cluster_id
        |    ORDER BY q DESC, id ASC) AS rn FROM jn)
        |SELECT id AS doc_id, cluster_id, cluster_size,
        |  ROUND(q, 6) + 0.0 AS quality, rn = 1 AS is_survivor
        |FROM rk ORDER BY doc_id""".stripMargin,
    // oracle = exact all-pairs over base ∪ planted copies; the Spark
    // side runs the LSH-banded plan — the compare is on OUTPUT, so this
    // doubles as a recall proof for the blocked path
    "d5_embed_dup" ->
      s"""WITH all_v AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
         |  FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + 1000000,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE) * 0.98 + 0.02)
         |  FROM embeddings)
         |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |  ROUND(list_cosine_similarity(a.e, b.e), 6) AS cos
         |FROM all_v a JOIN all_v b ON a.vec_id < b.vec_id
         |WHERE list_cosine_similarity(a.e, b.e) >= 0.9
         |ORDER BY id_a, id_b""".stripMargin,
    "s1_ann_brute" -> s1OracleSql,
    // e7: both proven index replays composed as CTEs; recall counted
    // by the same (qid, id) overlap join
    "e7_ann_recall" ->
      s"""WITH brute AS (
         |$s1OracleSql
         |), lsh AS (
         |$s2OracleSql
         |),
         |ov AS (SELECT b.qid, COUNT(*) AS n_overlap
         |  FROM brute b JOIN lsh l ON b.qid = l.qid AND b.id = l.id
         |  GROUP BY b.qid),
         |nb AS (SELECT qid, COUNT(*) AS n_brute FROM brute GROUP BY qid),
         |nl AS (SELECT qid, COUNT(*) AS n_lsh FROM lsh GROUP BY qid)
         |SELECT nb.qid, n_brute, n_lsh,
         |  COALESCE(n_overlap, 0) AS n_overlap,
         |  ROUND(CAST(COALESCE(n_overlap, 0) AS DOUBLE) / n_brute, 6)
         |    AS recall
         |FROM nb JOIN nl ON nb.qid = nl.qid
         |LEFT JOIN ov ON nb.qid = ov.qid
         |ORDER BY nb.qid""".stripMargin,
    "x2_quality" ->
      """SELECT doc_id, n_chars,
        |  CAST(len(string_split_regex(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS BIGINT) AS n_tokens,
        |  CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS BIGINT) AS n_punct,
        |  length(regexp_replace(text, '[^A-Za-z]', '', 'g')) / greatest(length(text), 1) AS alpha_ratio,
        |  len(list_filter(string_split_regex(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
        |      t -> t IN ('the','and','of','to','in','is','you','that','it','for','a')))
        |    / greatest(len(string_split_regex(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')), 1) AS stopword_ratio,
        |  (length(text) - (len(string_split_regex(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) - 1))
        |    / greatest(len(string_split_regex(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')), 1.0) AS mean_word_len,
        |  least(len(string_split_regex(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) / 100.0, 1.0) * 0.4
        |   + (length(regexp_replace(text, '[^A-Za-z]', '', 'g')) / greatest(length(text), 1)) * 0.4
        |   + least(len(list_filter(string_split_regex(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
        |        t -> t IN ('the','and','of','to','in','is','you','that','it','for','a')))
        |      / greatest(len(string_split_regex(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')), 1) * 5.0, 1.0) * 0.2
        |   AS quality_score
        |FROM documents ORDER BY doc_id""".stripMargin,
    "x5_chunk" ->
      """WITH d AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        |           FROM documents),
        |c AS (SELECT doc_id, toks,
        |      1 + CAST(ceil(greatest(len(toks) - 64, 0) / 48.0) AS INT) AS nc
        |      FROM d),
        |e AS (SELECT doc_id, unnest(range(nc)) AS cid, toks FROM c)
        |SELECT doc_id, CAST(cid AS INT) AS chunk_id,
        |  CAST(len(string_split(array_to_string(toks[cid*48+1 : cid*48+64], ' '), ' ')) AS INT) AS n_chunk_tokens,
        |  md5(array_to_string(toks[cid*48+1 : cid*48+64], ' ')) AS chunk_md5
        |FROM e ORDER BY doc_id, chunk_id""".stripMargin,
    "x7_split" -> {
      // hex→int without strtol: positional char arithmetic, identical in
      // both engines (Spark side uses conv(), same value)
      val hexVal = (1 to 4).map(i =>
        s"(strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), $i, 1)) - 1) * ${math.pow(16, 4 - i).toLong}")
        .mkString(" + ")
      s"""SELECT doc_id, CAST(($hexVal) % 100 AS INT) AS bucket,
         |  CASE WHEN ($hexVal) % 100 < 80 THEN 'train'
         |       WHEN ($hexVal) % 100 < 90 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM documents ORDER BY doc_id""".stripMargin
    },
    "x6_redact" ->
      """WITH p AS (SELECT doc_id,
        |  'contact user' || doc_id || '@example.com or call 555-123-4567 ref 9876543 ' || text AS text
        |  FROM documents),
        |r AS (SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(text,
        |  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |  '\+?[0-9][0-9 ()-]{7,}[0-9]', '<PHONE>', 'g'),
        |  '[0-9]{6,}', '<NUM>', 'g') AS clean FROM p)
        |SELECT doc_id, md5(clean) AS clean_md5,
        |  CAST(len(string_split(clean, '<EMAIL>')) - 1 AS INT) AS n_emails,
        |  CAST(len(string_split(clean, '<PHONE>')) - 1 AS INT) AS n_phones
        |FROM r ORDER BY doc_id""".stripMargin,
    "x3_token_count" ->
      """SELECT doc_id,
        |  CAST(len(string_split_regex(trim(text), '\s+')) AS INTEGER) AS ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS INTEGER) AS bpeish_tokens,
        |  CAST(length(text) AS INTEGER) AS n_chars_m
        |FROM documents ORDER BY doc_id""".stripMargin,
    // langIdFromToks mirrored as arithmetic: the fold keeps the EARLIEST
    // language attaining the max stopword score (strict > to replace),
    // hence the >= cascade in profile order en,de,es,fr.
    "x1_lang_id" ->
      """WITH b AS (
        |  SELECT doc_id, lang,
        |    string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS toks,
        |    length(regexp_replace(text, '[^\x{4e00}-\x{9fff}]', '', 'g'))
        |      / greatest(length(text), 1) AS cjk
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, lang, cjk,
        |    len(list_filter(toks, t -> t IN ('the','and','of','to','in','is','you','that','it','for','a'))) / greatest(len(toks),1) AS s_en,
        |    len(list_filter(toks, t -> t IN ('der','die','und','das','ist','nicht','mit','ein','zu','von'))) / greatest(len(toks),1) AS s_de,
        |    len(list_filter(toks, t -> t IN ('el','la','de','que','y','en','un','para','con','por'))) / greatest(len(toks),1) AS s_es,
        |    len(list_filter(toks, t -> t IN ('le','la','de','et','les','des','une','pour','que','dans'))) / greatest(len(toks),1) AS s_fr
        |  FROM b),
        |p AS (
        |  SELECT doc_id, lang, cjk,
        |    greatest(s_en, s_de, s_es, s_fr) AS best_s,
        |    CASE WHEN s_en >= greatest(s_de, s_es, s_fr) THEN 'en'
        |         WHEN s_de >= greatest(s_es, s_fr) THEN 'de'
        |         WHEN s_es >= s_fr THEN 'es'
        |         ELSE 'fr' END AS winner
        |  FROM s)
        |SELECT doc_id,
        |  CASE WHEN cjk > 0.3 THEN 'zh'
        |       WHEN best_s > 0.0 THEN winner
        |       ELSE 'und' END AS pred,
        |  lang AS actual,
        |  (CASE WHEN cjk > 0.3 THEN 'zh' WHEN best_s > 0.0 THEN winner ELSE 'und' END) = lang AS hit
        |FROM p ORDER BY doc_id""".stripMargin,
    // quantized-cosine: identical explicit half-away-from-zero rounding
    // formula on both engines (Quantize.toInt8); integer dots are exact
    // in double, so no cross-engine drift before the final round(...,6)
    "s4_quant_cosine" ->
      """WITH base AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |sc AS (
        |  SELECT vec_id, v,
        |    list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale,
        |    sqrt(list_inner_product(v, v)) AS nv
        |  FROM base),
        |q AS (
        |  SELECT vec_id, v, scale, nv,
        |    CASE WHEN scale = 0 THEN list_transform(v, x -> 0.0)
        |         ELSE list_transform(v, x -> CASE WHEN x >= 0
        |             THEN floor(x / scale + 0.5) ELSE -floor(-(x / scale) + 0.5) END)
        |    END AS qv
        |  FROM sc),
        |probe AS (SELECT qv AS q0, scale AS s0, v AS v0, nv AS nv0 FROM q WHERE vec_id = 0),
        |j AS (
        |  SELECT q.vec_id,
        |    list_inner_product(q.v, p.v0) / (q.nv * p.nv0) AS ce,
        |    list_inner_product(q.qv, p.q0) * q.scale * p.s0 / (q.nv * p.nv0) AS cq
        |  FROM q, probe p WHERE q.vec_id != 0)
        |SELECT vec_id, ROUND(ce, 6) AS cos_exact, ROUND(cq, 6) AS cos_q,
        |  ROUND(abs(ce - cq), 6) AS abs_err
        |FROM j ORDER BY vec_id""".stripMargin,
    // jaccard on hashed grams == jaccard on the gram strings themselves
    // (set sizes are hash-independent), so the oracle drops xxhash64 and
    // compares the jaccard VALUES on substring sets
    // d15: d4's block/gram construction + the identical KMV rule —
    // sketch values replay as md5-prefix BIGINTs, bottom-64 of the
    // merged sketches, fraction present in both; raw IEEE divisions
    // d16: full replay — same md5-order sample + planted copies, same
    // word-3-shingle sets, same h=16 md5-prefix minhash signature and
    // band-key renders, same all-pairs truth and the two ratios
    "d16_lsh_band_sweep" -> d16OracleSql,
    // e11: per-dim s1-shape brute CTEs on list prefixes, same raw-cos
    // ordering + id tiebreak, overlap counted by the same (qid, id) join
    "e11_matryoshka_sweep" -> e11OracleSql,
    // x28: identical md5 buckets, cell counts, probe cuts, and the
    // min-over-rows estimate
    "x28_count_min" ->
      """WITH tk AS (SELECT tok FROM (
        |    SELECT unnest(string_split(
        |      trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS tok
        |    FROM documents) WHERE tok <> ''),
        |sd AS (SELECT unnest(range(0, 4)) AS seed),
        |cells AS (SELECT seed,
        |    CAST('0x' || substr(md5(CAST(seed AS VARCHAR) || '|' || tok), 1, 15)
        |      AS BIGINT) % 1024 AS bucket, COUNT(*) AS c
        |  FROM tk, sd GROUP BY 1, 2),
        |exact AS (SELECT tok, COUNT(*) AS exact_n FROM tk GROUP BY 1),
        |heavy AS (SELECT * FROM exact ORDER BY exact_n DESC, tok LIMIT 10),
        |samp AS (SELECT * FROM exact ORDER BY md5(tok), tok LIMIT 5),
        |probes AS (SELECT DISTINCT * FROM
        |  (SELECT * FROM heavy UNION ALL SELECT * FROM samp)),
        |pb AS (SELECT tok, exact_n, seed,
        |    CAST('0x' || substr(md5(CAST(seed AS VARCHAR) || '|' || tok), 1, 15)
        |      AS BIGINT) % 1024 AS bucket
        |  FROM probes, sd)
        |SELECT p.tok, p.exact_n, MIN(c.c) AS cms_n,
        |  MIN(c.c) - p.exact_n AS overcount
        |FROM pb p JOIN cells c ON p.seed = c.seed AND p.bucket = c.bucket
        |GROUP BY p.tok, p.exact_n
        |ORDER BY p.exact_n DESC, p.tok""".stripMargin,
    // d15/d4 replays count per-pair gram intersections via the
    // inverted gram index WITHIN each (source, length-bucket) block
    // (COUNT(*) over the gram equi-join = |A∩B| exactly, the d2
    // device) instead of a per-pair list_intersect over all ~9M
    // within-block pairs — lossless, since a pair sharing zero grams
    // has J = 0 < threshold on both forms, and 12×/5× faster at the
    // sf1 gate (d4 27 min → 131 s, d15 39 min → 452 s). Proven
    // BIT-IDENTICAL to the all-pairs forms at sf0.001/sf0.01/sf0.1
    // before the swap (r12; the r9 d19 blocked-rewrite protocol).
    "d15_kmv_calibration" ->
      """WITH b AS (
        |  SELECT doc_id AS id, source, CAST(floor(n_chars / 100.0) AS INT) AS lb,
        |    list_distinct(list_transform(
        |      range(1, CAST(greatest(length(nt) - 2, 1) AS BIGINT) + 1),
        |      i -> substr(nt, CAST(i AS INT), 3))) AS g
        |  FROM (SELECT doc_id, source, n_chars,
        |          trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS nt
        |        FROM documents)),
        |kk AS (
        |  SELECT id,
        |    list_sort(list_distinct(list_transform(g,
        |      s -> CAST('0x' || substr(md5(s), 1, 15) AS BIGINT))))[1:64] AS kv
        |  FROM b),
        |e AS (SELECT id, source, lb, len(g) AS sz1, unnest(g) AS gram FROM b),
        |jc AS (
        |  SELECT a.id AS id_a, bb.id AS id_b,
        |    CAST(COUNT(*) AS DOUBLE) AS common,
        |    CAST(ANY_VALUE(a.sz1) + ANY_VALUE(bb.sz1) AS DOUBLE) AS sz
        |  FROM e a JOIN e bb ON a.gram = bb.gram
        |    AND a.source = bb.source AND a.lb = bb.lb AND a.id < bb.id
        |  GROUP BY a.id, bb.id),
        |f AS (
        |  SELECT id_a, id_b, common / (sz - common) AS j_exact,
        |    list_sort(list_distinct(ka.kv || kb.kv))[1:64] AS su,
        |    ka.kv AS ka, kb.kv AS kb
        |  FROM jc JOIN kk ka ON ka.id = jc.id_a JOIN kk kb ON kb.id = jc.id_b
        |  WHERE common / (sz - common) >= 0.2)
        |SELECT id_a, id_b, j_exact,
        |  CAST(len(list_filter(su, x -> list_contains(ka, x)
        |      AND list_contains(kb, x))) AS DOUBLE) / len(su) AS j_kmv
        |FROM f ORDER BY id_a, id_b""".stripMargin,
    "d4_ngram_jaccard" ->
      """WITH b AS (
        |  SELECT doc_id AS id, source, CAST(floor(n_chars / 100.0) AS INT) AS lb,
        |    list_distinct(list_transform(
        |      range(1, CAST(greatest(length(nt) - 2, 1) AS BIGINT) + 1),
        |      i -> substr(nt, CAST(i AS INT), 3))) AS g
        |  FROM (SELECT doc_id, source, n_chars,
        |          trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS nt
        |        FROM documents)),
        |e AS (SELECT id, source, lb, len(g) AS sz1, unnest(g) AS gram FROM b),
        |j AS (
        |  SELECT a.id AS id_a, bb.id AS id_b,
        |    CAST(COUNT(*) AS DOUBLE) AS common,
        |    CAST(ANY_VALUE(a.sz1) + ANY_VALUE(bb.sz1) AS DOUBLE) AS sz
        |  FROM e a JOIN e bb ON a.gram = bb.gram
        |    AND a.source = bb.source AND a.lb = bb.lb AND a.id < bb.id
        |  GROUP BY a.id, bb.id)
        |SELECT id_a, id_b, ROUND(common / (sz - common), 6) AS jaccard
        |FROM j WHERE common / (sz - common) >= 0.6
        |ORDER BY id_a, id_b""".stripMargin,
    // the Spark side PARSES planted PNG/BMP/WAV headers byte-by-byte;
    // the oracle recomputes the planted metadata arithmetically from
    // doc_id + header sizes (33/54/44 bytes) — a value-level check that
    // the parser reads the right offsets/endianness
    "m1_multimodal" ->
      """WITH m AS (SELECT doc_id,
        |  CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'png' WHEN 1 THEN 'bmp' ELSE 'wav' END AS fmt,
        |  CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 33 WHEN 1 THEN 54 ELSE 44 END
        |    + octet_length(encode(text)) AS n_bytes,
        |  CASE WHEN doc_id % 3 IN (0, 1) THEN CAST(doc_id % 640 AS INT) + 1 ELSE 0 END AS width,
        |  CASE WHEN doc_id % 3 IN (0, 1) THEN CAST(doc_id % 480 AS INT) + 1 ELSE 0 END AS height,
        |  CASE WHEN doc_id % 3 = 2 THEN 8000 + CAST(doc_id % 5 AS INT) * 8000 ELSE 0 END AS sample_rate
        |  FROM documents)
        |SELECT fmt, COUNT(*) AS n, CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
        |  MIN(width) AS min_w, MAX(height) AS max_h, MAX(sample_rate) AS max_sr
        |FROM m GROUP BY fmt ORDER BY fmt""".stripMargin,
    // m2: post-transform metadata recomputed arithmetically — images
    // become 64×48 (header rewrite, body kept), WAV data chunks are cut
    // at 500 samples × channels × 2 bytes, everything else unchanged
    "m2_media_transform" ->
      """SELECT doc_id,
        |  CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'png' WHEN 1 THEN 'bmp' ELSE 'wav' END AS fmt,
        |  CAST(CASE CAST(doc_id % 3 AS INT)
        |    WHEN 0 THEN 33 + octet_length(encode(text))
        |    WHEN 1 THEN 54 + octet_length(encode(text))
        |    ELSE 44 + LEAST(octet_length(encode(text)),
        |                    500 * (1 + CAST(doc_id % 2 AS INT)) * 2)
        |  END AS BIGINT) AS n_bytes,
        |  CASE WHEN doc_id % 3 IN (0, 1) THEN 64 ELSE 0 END AS width,
        |  CASE WHEN doc_id % 3 IN (0, 1) THEN 48 ELSE 0 END AS height,
        |  CASE WHEN doc_id % 3 = 2 THEN 8000 + CAST(doc_id % 5 AS INT) * 8000 ELSE 0 END AS sample_rate,
        |  CASE WHEN doc_id % 3 = 2 THEN 1 + CAST(doc_id % 2 AS INT) ELSE 0 END AS channels
        |FROM documents ORDER BY doc_id""".stripMargin,
    // md5-prefix fingerprints: CAST('0x'||hex AS BIGINT) parses the same
    // 15-hex-char (60-bit) prefix Spark takes via conv/ShingleMinMd5
    "x4_fingerprint" ->
      """WITH b AS (SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS nt
        |           FROM documents),
        |t AS (SELECT doc_id, nt, string_split(nt, ' ') AS toks FROM b),
        |sh AS (SELECT doc_id, nt,
        |        list_transform(range(1, CAST(greatest(len(toks) - 2, 1) AS BIGINT) + 1),
        |          i -> array_to_string(toks[CAST(i AS INT):CAST(i AS INT)+2], ' ')) AS shingles
        |       FROM t)
        |SELECT doc_id,
        |  CAST('0x' || substr(md5(nt), 1, 15) AS BIGINT) AS fp64,
        |  list_min(list_transform(shingles,
        |    s -> CAST('0x' || substr(md5(s), 1, 15) AS BIGINT))) AS fp_min_shingle
        |FROM sh ORDER BY doc_id""".stripMargin,
  )
}
