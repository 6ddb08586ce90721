package graft.operators

import graft.expressions.Kernels
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Query-side relevance scoring over a document corpus — the
  * "retrieve the best training documents for a topic" primitive of a
  * data-curation pipeline (and the standard IR baseline).
  *
  * BM25 (Robertson/Spärck Jones, Okapi at TREC-3, 1994), Lucene's
  * non-negative IDF variant:
  *
  *   score(D,Q) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·|D|/avgdl))
  *   idf(t)     = ln( (N − df + 0.5)/(df + 0.5) + 1 )
  *
  * Scale shape: the per-document tf vector for the query's terms is
  * ONE pass over the tokens ([[graft.expressions.Kernels.termCounts]]
  * — never an explode), so candidate filtering (any tf > 0) happens
  * row-locally before anything moves. The only exchanges are two
  * single-row corpus-stats aggregates (N · Σdl and per-term df, fused
  * into one agg) broadcast back as a literal row — at 100 TB the plan
  * is scan → map ⨝ broadcast(1 row) → sort-limit. avgdl is computed
  * exactly (long Σdl / long N, one double division) so the score
  * reproduces bit-for-bit on any engine regardless of partitioning. */
object Retrieval {

  /** (doc_id, score, per-term tf) for documents matching ≥1 query
    * term, BM25-scored. `round6` keeps the emitted score reproducible
    * across engines for oracle comparison. */
  def bm25(docs: DataFrame, idCol: String, textCol: String,
      query: Seq[String], k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val q = query.size
    val counted = docs
      .select(col(idCol).as("id"), TextAnalysis.tokens(col(textCol)).as("toks"))
      .select(col("id"), size(col("toks")).cast("long").as("dl"),
        Kernels.termCounts(col("toks"), query).as("tf"))
    // one single-row aggregate carries every corpus statistic the
    // score needs; broadcast-joined back (AQE turns a 1-row join side
    // into a broadcast automatically, but be explicit)
    val stats = counted.agg(
      count(lit(1)).as("n_docs"),
      sum(col("dl")).as("sum_dl"),
      array((0 until q).map(i =>
        sum(when(col("tf")(i) > 0, 1L).otherwise(0L))): _*).as("df"))
    val avgdl = (col("sum_dl").cast("double") / col("n_docs")).as("avgdl")
    val scored = counted
      .filter((0 until q).map(i => col("tf")(i) > 0).reduce(_ || _))
      .crossJoin(broadcast(stats.select(col("n_docs"), avgdl, col("df"))))
    val norm = lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl"))
    val score = (0 until q).map { i =>
      val tf = col("tf")(i).cast("double")
      val df = col("df")(i).cast("double")
      val idf = log((col("n_docs").cast("double") - df + 0.5) / (df + 0.5) + 1.0)
      idf * (tf * (k1 + 1)) / (tf + norm)
    }.reduce(_ + _)
    scored.select(col("id") +: round(score, 6).as("score") +:
      (0 until q).map(i => col("tf")(i).as(s"tf_${query(i)}")): _*)
  }

  /** Top-k retrieval: rounded-score ordering with id tiebreak keeps
    * the cut deterministic on any engine. */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
      query: Seq[String], k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame =
    bm25(docs, idCol, textCol, query, k1, b)
      .orderBy(col("score").desc, col("id"))
      .limit(k)

  /** Reciprocal Rank Fusion (Cormack, Clarke & Buettcher, SIGIR 2009)
    * of a lexical and a dense ranking — the standard hybrid-search
    * combiner (BM25 ∪ vector top-k): score(d) = Σ 1/(kRrf + rankᵢ(d)),
    * missing-from-a-ranking contributes 0. Inputs are top-k cuts
    * (id, rk), so the fuse is a full-outer join + pure map over ≤ 2k
    * rows — driver-free, and trivially tiny however large the corpus
    * the rankings were cut from. The two reciprocal terms add in a
    * PINNED order (lex + vec, no aggregate), so the score is
    * bit-reproducible on any engine. The rank window has no
    * `partitionBy`: it sorts the fused list in one task, at most
    * |lex| + |vec| rows — the two cuts, never the corpus. */
  def rrfFuse(lex: DataFrame, vec: DataFrame, kRrf: Int,
      topK: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val fused = lex.select(col("id"), col("rk").as("rk_lex"))
      .join(vec.select(col("id"), col("rk").as("rk_vec")),
        Seq("id"), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(kRrf) + col("rk_lex")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(kRrf) + col("rk_vec")), lit(0.0)))
    // the candidate set is ≤ |lex| + |vec| rows — the single-partition
    // rank window is over an already-tiny fused list, not the corpus
    fused.withColumn("rk",
        row_number().over(Window.orderBy(col("rrf").desc, col("id"))))
      .filter(col("rk") <= topK)
  }

  /** Corpus TF-IDF restricted to the document-frequency top
    * `vocabSize` vocabulary (Spärck Jones 1972; sklearn smooth-idf
    * variant) — the sparse lexical featurizer, pruned the way it
    * actually runs at web scale: a bounded vocabulary, never the
    * unbounded corpus token set.
    *
    * Scale shape: text explodes ONCE into (doc, token) pairs that
    * aggregate into per-doc tf on the (doc, token) key (map-side
    * partials); the vocabulary (top-V by document frequency,
    * deterministic (df desc, token) cut) and the single-row doc
    * count are BROADCAST back, so the corpus-sized tf relation only
    * ever joins constant-size literals — scan → shuffle(tf pairs) →
    * map, at any corpus size. idf = ln((N+1)/(df+1)) + 1; ln is the
    * one library call, washed out by ROUND(..,6) for engine-exact
    * replay. Output = (id, tok, tf, df, tfidf) for every vocabulary
    * hit — hashing all scores is strictly stronger than any top-k
    * cut. */
  def tfidf(docs: DataFrame, idCol: String, textCol: String,
      vocabSize: Int): DataFrame = {
    val tf = docs
      .select(col(idCol).as("id"),
        explode(TextAnalysis.tokens(col(textCol))).as("tok"))
      .groupBy("id", "tok").agg(count(lit(1)).as("tf"))
    // each (id, tok) row is distinct, so df = row count per token
    val vocab = tf.groupBy("tok").agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("tok")).limit(vocabSize)
    val nDocs = docs.select(col(idCol)).agg(count(lit(1)).as("n_docs"))
    tf.join(broadcast(vocab), Seq("tok"))
      .crossJoin(broadcast(nDocs))
      .select(col("id"), col("tok"), col("tf"), col("df"),
        round(col("tf").cast("double") *
          (log((col("n_docs").cast("double") + 1.0) /
            (col("df").cast("double") + 1.0)) + 1.0), 6).as("tfidf"))
  }

  /** nDCG@k curve (Järvelin & Kekäläinen 2002) — the graded
    * ranking-quality metric every retrieval stack reports: for each
    * cut depth i ≤ k, DCG_i = Σ_{j≤i} gain(rel_j)/ln(j+1) over the
    * retrieved ordering, IDCG_i the same over the IDEAL (relevance-
    * sorted) ordering of the whole judged pool, nDCG_i their ratio.
    * Gains are the standard exponential 2^rel − 1 (mapped explicitly —
    * {0,1,3,7} — no pow() call to trust); the log base cancels in the
    * ratio, so the natural-log discount is used on both engines (ln of
    * small integers — the x38-proven cross-engine-identical class).
    *
    * Determinism: per-position terms round to 9 decimals and
    * accumulate as exact DECIMAL running sums (order = rank order,
    * well-defined); DCG/IDCG emit as exact 10⁻⁹-grid BIGINTs (never a
    * decimal→double cast — the known-unreliable DuckDB 1.0 path) and
    * nDCG is one pinned int64→double division.
    *
    * Scale shape: both top-k cuts are TakeOrdered (no global sort);
    * the rank/cumulative windows have no `partitionBy` and run in one
    * task over the two ≤k-row cut results — bounded by construction
    * (globalWindowOk-documented), and the curves join on the ≤k rank
    * key. */
  def ndcgCurve(pool: DataFrame, relCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val gain = when(col(relCol) === 0, 0.0).when(col(relCol) === 1, 1.0)
      .when(col(relCol) === 2, 3.0).otherwise(7.0)
    def curve(ordered: DataFrame): DataFrame = {
      val ranked = ordered.limit(k)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("__o1"), col("id"))))
      val lp = round(gain / log(col("rank").cast("double") + lit(1.0)), 9)
        .cast(DecimalType(18, 9))
      ranked.withColumn("lp", lp)
        .withColumn("cum", sum(col("lp")).over(Window.orderBy("rank")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    }
    val retrieved = curve(pool
      .select(col("id"), col(relCol), (-col("score")).as("__o1"))
      .orderBy(col("__o1"), col("id")))
    val ideal = curve(pool
      .select(col("id"), col(relCol), (-col(relCol)).cast("double").as("__o1"))
      .orderBy(col("__o1"), col("id")))
    def e9(c: Column): Column = (c * lit(1000000000L)).cast("long")
    retrieved.select(col("rank"), col("id"), col(relCol),
        e9(col("cum")).as("dcg_e9"))
      .join(ideal.select(col("rank"), e9(col("cum")).as("idcg_e9")),
        Seq("rank"))
      .select(col("rank"), col("id"), col(relCol),
        col("dcg_e9"), col("idcg_e9"),
        (round(when(col("idcg_e9") > 0L,
          col("dcg_e9").cast("double") / col("idcg_e9").cast("double")), 6)
          + 0.0).as("ndcg"))
  }
}
