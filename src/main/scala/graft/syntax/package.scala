package graft

import graft.functions._
import graft.types._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

/** User-facing syntax extensions: the graft equivalent of the
  * reference's attached pandas methods (`@attachable` in
  * bertrand/convert/base.py — `series.cast(...)`, `df.typecheck(...)`).
  * In Spark the natural attach point is implicit enrichment of
  * `Column`/`DataFrame`:
  *
  * {{{
  * import graft.syntax._
  * df.select($"l_quantity".castTo("int8"))            // column cast
  * df.castColumns("l_quantity" -> "int8")             // dataframe cast
  * df.detectTypes()                                   // inference report
  * df.typecheckAgainst("l_orderkey" -> "int64")       // validation
  * df.downcastAll("l_quantity", "l_linenumber")       // compression
  * }}}
  */
package object syntax {

  implicit class GraftColumnOps(private val c: Column) extends AnyVal {

    /** Cast through the graft type system (spec mini-language), with the
      * reference's conversion arguments. The source Spark type is taken
      * from `from` when the kernel needs it (string parses vs numeric
      * narrowing); defaults to string-agnostic double/long casts. */
    def castTo(spec: String, opts: CastOptions = CastOptions(),
        from: org.apache.spark.sql.types.DataType = StringType): Column =
      TypeRegistry.casterFor(spec) match {
        case Some(kernel) => kernel(c) // user-registered cast behavior
        case None => castBuiltin(spec, opts, from)
      }

    private def castBuiltin(spec: String, opts: CastOptions,
        from: org.apache.spark.sql.types.DataType): Column =
      TypeResolver.resolve(spec) match {
        case GBoolean => Casts.toBoolean(c, from, opts)
        case t: GInteger => Casts.toInteger(c, from, t, opts)
        case t: GFloat => Casts.toFloat(c, from, t, opts)
        case t: GDecimal => Casts.toDecimal(c, from, t, opts)
        case _: GDatetime => Casts.toDatetime(c, from, opts)
        case GTimedelta => Casts.toTimedelta(c, from, opts)
        case _: GComplex => Casts.toComplex(c, from, opts)
        case GString => Casts.toString(c, from, opts)
        case other => c.cast(other.sparkType)
      }

    def roundTo(rule: String, decimals: Int = 0): Column =
      Rounding.roundFloat(c, rule, decimals)

    def snapTo(tol: Double): Column = Rounding.snap(c, tol)

    def dotWith(other: Column): Column = operators.VectorOps.dot(c, other)

    def cosineWith(other: Column): Column = operators.VectorOps.cosine(c, other)
  }

  implicit class GraftDataFrameOps(private val df: DataFrame) extends AnyVal {

    /** Cast columns by (name -> spec), preserving Spark source types. */
    def castColumns(specs: (String, String)*): DataFrame =
      specs.foldLeft(df) { case (d, (name, spec)) =>
        d.withColumn(name,
          new GraftColumnOps(col(name)).castTo(spec,
            CastOptions(errors = "coerce", rounding = Some("half_even")),
            from = d.schema(name).dataType))
      }

    /** detect_type over every column (one aggregation pass). */
    def detectTypes(): Seq[(String, String)] = Detect.detectTypes(df)

    /** typecheck against a declared (name -> spec) schema. */
    def typecheckAgainst(schema: (String, String)*): Seq[(String, String, String, Boolean)] =
      Detect.typecheck(df, schema)

    /** Lossless downcast of the given (or all numeric) columns. */
    def downcastAll(cols: String*): DataFrame = {
      val targets = if (cols.nonEmpty) cols else df.schema.fields.collect {
        case f if f.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType] => f.name
      }.toSeq
      Downcast(df, targets)
    }

    /** Exact dedup keeping the first (minimum) id per identical text. */
    def dedupExact(idCol: String, textCol: String): DataFrame =
      df.join(operators.Dedup.exactGroups(df, idCol, textCol)
          .select(col("keep_id").as(idCol)), Seq(idCol), "left_semi")

    /** Near-dedup end-to-end: MinHash-LSH pairs → connected-component
      * clusters → keep one representative (min id) per cluster. */
    def dedupNear(idCol: String, textCol: String,
        threshold: Double = 0.5): DataFrame = {
      val pairs = operators.Dedup.minhashPairs(df, idCol, textCol,
        threshold = threshold)
      val drop = operators.Dedup.dupClusters(pairs, "id_a", "id_b")
        .filter(!col("keep")).select(col("id").as(idCol))
      df.join(drop, Seq(idCol), "left_anti")
    }

    /** Drop documents sharing any word `w`-gram with the eval set. */
    def decontaminateAgainst(evalDocs: DataFrame, idCol: String,
        textCol: String, w: Int = 13): DataFrame =
      df.join(operators.Dedup.decontaminate(df, evalDocs, idCol, textCol, w)
          .filter(!col("contaminated")).select(col("id").as(idCol)),
        Seq(idCol), "left_semi")

    /** Keep at most `n` rows per group, in deterministic md5 order. */
    def quotaPerGroup(groupCol: String, idCol: String, n: Int): DataFrame =
      df.join(operators.Sampling.groupQuota(df, groupCol, idCol, n)
          .select(col(idCol)), Seq(idCol), "left_semi")

    /** Deterministic weighted without-replacement sample: k rows per
      * group by sequential Poisson ranking (u/weight). */
    def sampleWeighted(groupCol: String, idCol: String, weight: Column,
        k: Int): DataFrame =
      df.join(operators.Sampling.weightedSample(df, groupCol, idCol,
          weight, k).select(col(idCol)), Seq(idCol), "left_semi")

    /** Temperature-reweighted mixture sample (count^alpha per group). */
    def sampleMixture(groupCol: String, idCol: String, targetTotal: Long,
        alpha: Double = 0.0): DataFrame =
      df.join(operators.Sampling.mixtureSample(df, groupCol, idCol,
            targetTotal, alpha)
          .filter(col("kept")).select(col(idCol)), Seq(idCol), "left_semi")

    /** Top-k documents for a keyword query (BM25, deterministic cut). */
    def searchBm25(idCol: String, textCol: String, query: Seq[String],
        k: Int = 10): DataFrame =
      operators.Retrieval.bm25TopK(df, idCol, textCol, query, k)

    /** Keep rows whose unigram-LM log-perplexity (nats/token — the
      * gate-safe form unigramPerplexity emits) is at most `maxLnPpl`
      * (CCNet-style quality cut; the model is fit on `df` itself;
      * a perplexity-units threshold P is passed as math.log(P)).
      * Named for its units: the r12 log-domain migration changed the
      * threshold scale, so the nats/token entry point carries `Ln` in
      * its name and the original-name shim below keeps the original
      * perplexity-units contract for existing positional callers. */
    def filterByLnPerplexity(idCol: String, textCol: String,
        maxLnPpl: Double, vocabSize: Int = 65536): DataFrame =
      df.join(operators.TextAnalysis.unigramPerplexity(df, idCol, textCol,
            vocabSize)
          .filter(col("ln_ppl") <= maxLnPpl).select(col("id").as(idCol)),
        Seq(idCol), "left_semi")

    /** Original-units entry point: `maxPpl` is a PERPLEXITY threshold
      * (e.g. 100.0), converted internally to nats/token. Kept so call
      * sites written before the log-domain migration keep their
      * original meaning instead of silently re-reading a perplexity
      * threshold as nats; new code should call
      * [[filterByLnPerplexity]] directly. */
    @deprecated("pass nats/token to filterByLnPerplexity", "r13")
    def filterByPerplexity(idCol: String, textCol: String, maxPpl: Double,
        vocabSize: Int = 65536): DataFrame = {
      require(maxPpl > 0.0, s"maxPpl must be positive, got $maxPpl")
      filterByLnPerplexity(idCol, textCol, math.log(maxPpl), vocabSize)
    }

    /** Assign docs to fixed-capacity training sequences (greedy
      * first-fit in id order per group). */
    def packInto(idCol: String, groupCol: String, nTokCol: String,
        capacity: Int): DataFrame =
      operators.Packing.packGreedy(df, idCol, groupCol, nTokCol, capacity)

    /** Semantic (embedding-space) dedup: keep one representative per
      * SemDeDup near-identical group (cosine ≥ threshold within a
      * spherical quantizer cell). */
    def dedupSemantic(idCol: String, vecCol: String,
        nCells: Int = 16, threshold: Double = 0.95): DataFrame =
      df.join(operators.Dedup.semanticDedup(df, idCol, vecCol, nCells, threshold)
          .filter(!col("is_dup")).select(col("id").as(idCol)),
        Seq(idCol), "left_semi")

    /** Lloyd k-means cluster id + distance per row (deterministic
      * md5-sample init; see operators.Clustering). */
    def kmeans(idCol: String, vecCol: String, k: Int = 8,
        iters: Int = 3): DataFrame =
      operators.Clustering.kmeansAssign(df, idCol, vecCol, k, iters)

    /** Full curation verdict per doc (dedup + decontamination +
      * quality + length; see operators.Curation). */
    def curateAgainst(evalDocs: DataFrame, idCol: String, textCol: String,
        minQuality: Double = 0.5, minTokens: Int = 20,
        maxTokens: Int = 2000): DataFrame =
      operators.Curation.curate(df, evalDocs, idCol, textCol,
        minQuality, minTokens, maxTokens)

    /** Keep only rows whose curation verdict is `keep`. */
    def curated(evalDocs: DataFrame, idCol: String, textCol: String): DataFrame =
      df.join(operators.Curation.curate(df, evalDocs, idCol, textCol)
          .filter(col("keep")).select(col("id").as(idCol)),
        Seq(idCol), "left_semi")

    /** Apply a compacted CDC batch (op ∈ U/D/I) — MERGE INTO semantics;
      * the receiver is the snapshot and never shuffles. */
    def mergeCdc(batch: DataFrame, keyCol: String,
        opCol: String = "op"): DataFrame =
      operators.Merge.applyCdc(df, batch, keyCol, opCol)

    /** Corpus-level exact line dedup verdicts (C4 rule); `linesCol` is
      * an array<string> column. */
    def dedupLines(idCol: String, linesCol: String): DataFrame =
      operators.Dedup.dedupLines(df, idCol, linesCol)

    /** Maximal exact duplicated-substring spans ≥ `minLen` tokens
      * (Lee et al. 2022 ExactSubstr report — d20). */
    def dupSubstrings(idCol: String, textCol: String,
        minLen: Int = 13): DataFrame =
      operators.Dedup.exactSubstringSpans(df, idCol, textCol, minLen)

    /** Corpus rewrite removing every duplicated substring's later
      * occurrence (Lee et al. 2022 ExactSubstr removal — d21); returns
      * (id, n_tokens, n_kept, n_removed, kept_text). */
    def dedupSubstrings(idCol: String, textCol: String,
        minLen: Int = 13): DataFrame =
      operators.Dedup.removeDuplicateSpans(df, idCol, textCol, minLen)

    /** d20's report with identical docs pre-collapsed and span rows
      * carrying pair multiplicity arithmetically (d22) — the report
      * form for bit-identical duplicate mass. */
    def dupSubstringsGrouped(idCol: String, textCol: String,
        minLen: Int = 13): DataFrame =
      operators.Dedup.exactSubstringSpansGrouped(df, idCol, textCol, minLen)

    /** [[dedupSubstrings]] without pair enumeration (d23) — identical
      * rewrite via the gram-ownership identity, linear where the pair
      * form is quadratic in gram document frequency. The form to run
      * at corpus scale. */
    def dedupSubstringsOwned(idCol: String, textCol: String,
        minLen: Int = 13): DataFrame =
      operators.Dedup.removeDuplicateSpansOwned(df, idCol, textCol, minLen)

    /** Gopher quality rule-set signals + verdicts appended per row
      * (`textCol` must be the framed multi-line text). */
    def gopherQuality(textCol: String): DataFrame = {
      val staged = df
        .withColumn("__aw", split(col(textCol), "\\s+"))
        .withColumn("__lines", split(col(textCol), "\n"))
      staged.select(df.columns.map(col) ++
        operators.TextAnalysis.gopherColumns(
          col(textCol), col("__aw"), col("__lines")): _*)
    }

    /** DSIR importance weights vs a target slice. */
    def dsirWeights(idCol: String, textCol: String, target: Column,
        buckets: Int = 256): DataFrame =
      operators.Sampling.dsirWeights(df, idCol, textCol, target, buckets)

    /** Blocked hamming fuzzy join against `other`. */
    def fuzzyJoin(other: DataFrame, idCol: String, nameCol: String,
        otherId: String, otherName: String, maxDist: Int = 2): DataFrame =
      operators.Dedup.fuzzyHammingJoin(df, other, idCol, nameCol,
        otherId, otherName, maxDist = maxDist)

    /** Fit a BPE tokenizer on `textCol`; returns the tokenized
      * vocabulary and the learned merges (driver-local merge loop
      * over the bounded word-count table, spec-equal to the
      * distributed fit, which it falls back to past the vocab cap). */
    def trainBpe(textCol: String, nMerges: Int = 5)
        : (DataFrame, Seq[(Int, String, String, Long)]) =
      operators.BpeTrainer.fitLocal(df, textCol, nMerges)

    /** PCA top-2 projection of an embedding column. */
    def pcaProject(idCols: Seq[String], vecCol: String,
        dim: Int = 16): DataFrame =
      operators.EmbedStats.pcaPowerProject(df, idCols, vecCol, dim)

    /** Vocabulary-pruned TF-IDF scores (top-`vocabSize` df terms). */
    def tfidf(idCol: String, textCol: String,
        vocabSize: Int = 4096): DataFrame =
      operators.Retrieval.tfidf(df, idCol, textCol, vocabSize)

    /** Interpolated bigram LM perplexity per document. */
    def bigramPerplexity(idCol: String, textCol: String,
        uniVocab: Int = 4096, biVocab: Int = 65536,
        lambda: Double = 0.75): DataFrame =
      operators.TextAnalysis.bigramPerplexity(df, idCol, textCol,
        uniVocab, biVocab, lambda)

    /** Canonical-URL dedup (case/port/fragment/tracking/param-order/
      * slash normalization, keep-min id per canonical key). */
    def dedupUrls(idCol: String, urlCol: String): DataFrame =
      operators.Urls.dedupByCanonical(df, idCol, urlCol)

    /** Per-token directed KL drift terms between the `sliceA` rows and
      * the rest (shared-vocabulary Laplace-smoothed unigram models). */
    def tokenDrift(textCol: String, sliceA: Column): DataFrame =
      operators.TextAnalysis.tokenDrift(df, textCol, sliceA)

    /** Mutual-kNN graph over an embedding column. */
    def knnGraph(idCol: String, vecCol: String, k: Int = 10,
        nCells: Int = 16): DataFrame =
      operators.Similarity.knnGraph(df, idCol, vecCol, k, nCells)

    /** Fit a BPE tokenizer and encode the corpus: per-doc word and
      * BPE token counts. */
    def encodeBpe(idCol: String, textCol: String,
        nMerges: Int = 5): DataFrame =
      operators.BpeTrainer.encode(df, idCol, textCol, nMerges)

    /** pandas `cut`: equal-width binning, appends `bin`. */
    def cutBins(valCol: String, bins: Int): DataFrame =
      graft.functions.Binning.cut(df, valCol, bins)

    /** pandas `qcut`: quantile binning, appends `bin`. */
    def qcutBins(valCol: String, q: Int): DataFrame =
      graft.functions.Binning.qcut(df, valCol, q)

    /** Fixed-iteration PageRank over this (src, dst) edge frame. */
    def pageRank(iters: Int = 3, damping: Double = 0.85): DataFrame =
      operators.Graphs.pageRank(df, iters, damping)

    /** Hop-bounded BFS distances from `seeds` over this edge frame. */
    def bfsFrom(seeds: DataFrame, maxHops: Int): DataFrame =
      operators.Graphs.bfs(df, seeds, maxHops)

    /** Per-node triangle counts over this (src, dst) edge frame. */
    def triangleCounts(): DataFrame = operators.Graphs.triangleCounts(df)

    /** Z-order layout audit: per-z-bucket min/max spans of two
      * clustered dimensions (see [[graft.operators.ZOrder]]). */
    def zorderStats(a: String, b: String, log2Buckets: Int = 8): DataFrame =
      operators.ZOrder.layoutStats(df,
        org.apache.spark.sql.functions.col(a),
        org.apache.spark.sql.functions.col(b), log2Buckets)

    /** Mergeable fixed-grid histogram cells (g, b, c) of `xCol` per
      * `gCol` — fold across batches by summing `c`, read quantiles
      * with [[graft.operators.Sketches.histQuantiles]]. */
    def histogram(gCol: String, xCol: String, lo: Double, hi: Double,
        buckets: Int = 4096): DataFrame =
      operators.Sketches.histCounts(df, gCol, xCol, lo, hi, buckets)

    /** Pearson correlation of every `vecCol` dimension pair (long
      * form), one aggregation pass. */
    def dimCorrelation(vecCol: String, dim: Int): DataFrame =
      operators.EmbedStats.dimCorrelation(df, vecCol, dim)

    /** Merge overlapping/touching intervals per key: expects
      * (keyCol, ss, ee, n) rows, returns one row per merged island
      * (see [[graft.operators.Intervals]]; single-shuffle sweep). */
    def mergeIntervals(keyCol: String = "user_id"): DataFrame =
      operators.Intervals.merge(df, keyCol)

    /** Per-cluster simplified silhouette (cluster-quality read) over
      * the same deterministic Lloyd fit as [[kmeans]]. */
    def silhouette(idCol: String, vecCol: String, k: Int = 8,
        iters: Int = 3): DataFrame =
      operators.Clustering.silhouetteSimplified(df, idCol, vecCol, k, iters)

    /** Fuse this (id, rk) ranking with `other` by Reciprocal Rank
      * Fusion (hybrid search; see [[graft.operators.Retrieval.rrfFuse]]). */
    def rrfFuseWith(other: DataFrame, kRrf: Int = 60,
        topK: Int = 10): DataFrame =
      operators.Retrieval.rrfFuse(df, other, kRrf, topK)

    /** Skyline / Pareto frontier per `group`: minimize `x`, maximize
      * `y`; input must be distinct on (group, x, y) with multiplicity
      * payload columns `n`/`rep` (see [[graft.operators.Skyline]] —
      * shuffle-free local prune, then one window). */
    def skyline(group: String, x: String, y: String,
        n: String = "n", rep: String = "rep"): DataFrame =
      operators.Skyline.skyline(df, group, x, y, n, rep)

    /** Strip HTML markup to visible text (script/style drop, tag
      * strip, entity decode, whitespace collapse — see
      * [[graft.operators.TextAnalysis.htmlVisible]]). */
    def stripHtml(htmlCol: String, as: String = "visible"): DataFrame =
      df.withColumn(as, operators.TextAnalysis.htmlVisible(col(htmlCol)))

    /** Hierarchical subtree rollup over this (node, parent) forest:
      * each node's aggregate includes every descendant (pointer-
      * doubling ancestor closure — see
      * [[graft.operators.Graphs.subtreeRollup]]). */
    def subtreeRollup(values: DataFrame, rounds: Int = 5): DataFrame =
      operators.Graphs.subtreeRollup(df, values, rounds)

    /** pandas `df.query("...")`: filter by a predicate string in the
      * pinned mini-language (see [[graft.types.PredicateParser]]) —
      * compiles to ordinary codegen'd Columns. `env` binds `@name`
      * references (pandas' local-scope resolution):
      * `df.queryWhere("qty > @cut", Map("cut" -> 45))`.
      *
      * One documented deviation from real pandas strings: `&`/`|`/`~`
      * are accepted at the BOOLEAN (and/or/not) precedence levels, not
      * Python's bitwise levels — `x == 1 | s == 'b'` reads as the
      * disjunction of the comparisons here, where actual pandas would
      * raise and direct you to parenthesize. Strings that real pandas
      * accepts mean the same thing; this grammar also accepts the
      * unparenthesized spellings with the intended reading. */
    def queryWhere(predicate: String,
        env: Map[String, Any] = Map.empty): DataFrame =
      df.filter(types.PredicateParser.parse(predicate, env))

    /** pandas `df.eval("c = a + b")`: append computed column(s) via
      * the t57 expression grammar ([[graft.types.PredicateParser]] —
      * boolean expressions assign too: `df.evalAssign("hot = x > 9")`);
      * `env` binds `@name` references as in [[queryWhere]]. Accepts
      * pandas' MULTI-STATEMENT form — newline-separated assignments,
      * later statements referencing earlier targets — by folding
      * `withColumn` in source order:
      * `df.evalAssign("c = a + b\nd = c * 2")`. */
    def evalAssign(assignment: String,
        env: Map[String, Any] = Map.empty): DataFrame =
      types.PredicateParser.parseProgram(assignment, env)
        .foldLeft(df) { case (acc, (name, e)) => acc.withColumn(name, e) }

    /** Count-Min point-frequency probe over this `tok` column (see
      * [[graft.operators.Sketches.countMinProbe]]): fixed additive cells,
      * conservative estimates for the corpus's heavy + sampled
      * tokens. */
    def countMinProbe(seeds: Int = 4, buckets: Int = 1024): DataFrame =
      operators.Sketches.countMinProbe(df, seeds, buckets)

    /** Heaps'-law vocabulary growth curve over this corpus in `idCol`
      * order (see [[graft.operators.TextAnalysis.vocabGrowth]] —
      * first-occurrence trick, exact integers). */
    def vocabGrowth(textCol: String = "text", idCol: String = "doc_id",
        nBuckets: Int = 20): DataFrame =
      operators.TextAnalysis.vocabGrowth(df, textCol, idCol, nBuckets)

    /** Exact mean pairwise squared distance per label slice + overall
      * (mode-collapse read; see
      * [[graft.operators.EmbedStats.diversityByLabel]] — moment
      * identity, no pairwise pass). */
    def embeddingDiversity(labelCol: String = "label",
        vecCol: String = "embedding", dim: Int = 64): DataFrame =
      operators.EmbedStats.diversityByLabel(df, labelCol, vecCol, dim)

    /** PCA explained-variance spectrum (pc1/pc2/residual shares; see
      * [[graft.operators.EmbedStats.pcaExplainedVariance]]). */
    def pcaExplainedVariance(vecCol: String = "embedding",
        dim: Int = 16, iters: Int = 30): DataFrame =
      operators.EmbedStats.pcaExplainedVariance(df, vecCol, dim, iters)
  }
}
