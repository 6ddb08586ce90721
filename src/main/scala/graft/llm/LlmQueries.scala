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
        "doc_id", "text", threshold = 0.5)
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
      "doc_id", "text", threshold = 0.5)
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
    val pairs = Dedup.minhashPairs(corpus, "doc_id", "text", threshold = 0.5)
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
    * Count table ([[graft.operators.TextAnalysis.sourceTokenCounts]])
    * and fit core ([[graft.operators.TextAnalysis.zipfFromCounts]]) are
    * shared with the S27 streaming monitor — the count table is a
    * semigroup, so the stream folds it as state. */
  def x38Zipf(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.zipfFromCounts(
      TextAnalysis.sourceTokenCounts(t(s, dir, "documents"), "text", "source"),
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
    * over the tiny source table — the corpus is never touched again.
    * Availability and units are [[Sampling.mixAvailability]] and
    * [[Sampling.withMixUnits]], shared with the S26 streaming fold. */
  def p5MixingPlan(s: SparkSession, dir: String): DataFrame =
    Sampling.mixingPlan(Sampling.withMixUnits(
      Sampling.mixAvailability(t(s, dir, "documents"), "text", "source")),
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
    * (lang, source) strata; [[Sampling.hamiltonAllocation]] puts every
    * stratum within 1 of exact proportionality, in exact integers).
    * Within each stratum the selection is the md5-order prefix (x9's
    * deterministic device, layout-independent), fingerprinted as md5
    * of the sorted id list. Scale shape: allocation runs on the
    * strata table; the corpus sees one (lang, source)-key window
    * shuffle + a broadcast allocation join. */
  def x29StratifiedSplit(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = t(s, dir, "documents").select("doc_id", "lang", "source")
    val alloc = Sampling.hamiltonAllocation(
      docs.groupBy("lang", "source").agg(count(lit(1)).as("n_docs")),
      lit(100), "lang", "source")
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
  /** Count-Min sketch — the fixed-size frequency sketch next to x14's
    * Misra-Gries top-k: 4 seeded md5 hash rows × 1024 buckets, 4096
    * additive cells whatever the corpus, probed for the corpus's heavy
    * and md5-sampled tokens ([[Sketches.countMinProbe]]; cells and
    * estimate read shared with the S21 streaming fold). The exact
    * counts are the verification twin a 100 TB run drops. */
  def x28CountMin(s: SparkSession, dir: String): DataFrame =
    Sketches.countMinProbe(t(s, dir, "documents")
        .select(explode(TextAnalysis.tokens(col("text"))).as("tok")),
      seeds = 4, buckets = 1024)

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
      .select(col("id"), // window over ≤ 20 rows: the limit above
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
    * oracle replay — plan shape only. */
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
    Dedup.incrementalDedup(corpus, batch, "doc_id", "text", threshold = 0.5)
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
    * generated CTEs over DuckDB list dot products — so p1/p2/λ1/λ2 all
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

  private[graft] val bm25Terms = Seq("hash", "join", "merge", "sort")

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
    // window over the 5 stage rows
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
    // alloc (strata-cardinality) and sides (corpus-cardinality but
    // NARROW — no text) settle eagerly (r14, guide §2.5): each has two
    // consumers, and unsettled the strata window ran twice and the
    // per-strata md5 sort over the corpus ran twice. This is NOT the
    // rejected r13 corpus persist — the text column never caches.
    val alloc = st.settle(Sampling.hamiltonAllocation(
      corpus.groupBy("lang", "source").agg(count(lit(1)).as("n_docs")),
      expr("nn div 10"), "lang", "source"), "alloc")
    val sides = st.settle(corpus
      .withColumn("rn", row_number().over(
        Window.partitionBy("lang", "source")
          .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))))
      .join(broadcast(alloc.select("lang", "source", "allocated")),
        Seq("lang", "source"))
      .select(col("doc_id"), col("lang"), col("source"),
        (col("rn") <= col("allocated")).as("is_test")), "sides")
    val pairs = Dedup.minhashPairs(corpus, "doc_id", "text", threshold = 0.5)
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
    * unseen-token probability (see [[TextAnalysis.goodTuring]]; its
    * count table [[TextAnalysis.tokenTypeCounts]] is the one the S24
    * streaming fold keeps). */
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
}
