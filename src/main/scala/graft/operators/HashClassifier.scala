package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** FastText-style hashed linear text classifier (Joulin et al. 2017,
  * "Bag of Tricks for Efficient Text Classification") — the quality-
  * filter SHAPE production LLM pipelines actually run (CCNet's and
  * fastText's linear scorers): unigram + bigram features, feature
  * hashing into a fixed bucket table, a linear score, a keep/drop
  * verdict. Reference scope: the quality-scoring family SURVEY §2 L9
  * opens (bertrand has no classifier; this is the north-star
  * "training-data pipeline" extension).
  *
  * The weight table is DETERMINISTIC (a multiplicative-hash PRNG over
  * the bucket index) rather than learned — the engine-side semantics
  * (tokenize → feature-hash → sum weights → threshold) are exactly
  * those of a trained model whose weights would arrive as a broadcast
  * array; pinning them to a formula keeps every arithmetic step
  * integer-exact and SQL-replayable (the d17 CDC discipline: one
  * source of truth for the constants, interpolated into the oracle).
  *
  * Exactness contract: the feature hash is an 8-char base-131
  * polynomial over `rpad(f, 8, ' ')` (both engines' rpad TRUNCATES
  * over-long strings, so the window is total), each code unit reduced
  * mod 256 so eight terms stay far under int64 (max ~1.4e18); bucket
  * and weight derive by integer mod on nonneg operands (Spark pmod ==
  * DuckDB % there); the per-doc score is an exact BIGINT sum;
  * `score_norm` is ONE IEEE division of exact integers — bit-identical
  * cross-engine with no rounding device needed.
  *
  * Scale shape (100 TB): a PURE MAP pass — tokens, features, hash and
  * sum all live inside one row's HOF lambda (whole-stage codegen, no
  * UDF); nothing shuffles, nothing collects; the only exchange in a
  * consuming query is whatever the caller adds. A learned-weights
  * variant swaps [[weight]] for an `element_at(broadcast array, bucket)`
  * lookup with the same plan shape. */
object HashClassifier {

  /** Feature-hash bucket count (the classifier's weight-table width). */
  val NumBuckets = 512L
  /** Base-131 polynomial coefficients, 131^7 down to 131^0 — exact
    * int64, shared verbatim with the x46 oracle. */
  val CharPows: Array[Long] = {
    val a = new Array[Long](8)
    a(7) = 1L
    var k = 6
    while (k >= 0) { a(k) = a(k + 1) * 131L; k -= 1 }
    a
  }
  /** Token-length mix-in (keeps >8-char features with a shared prefix
    * from colliding by construction). */
  val LenMix = 1000003L
  /** Weight PRNG: w(b) = ((b·WMul + WAdd) mod WRange) − WShift, a
    * zero-centered integer in [−32768, 32767]. */
  val WMul = 2654435761L
  val WAdd = 104729L
  val WRange = 65536L
  val WShift = 32768L

  /** Base-131 polynomial over the first 8 chars of `rpad(f, 8, ' ')`,
    * each code unit mod 256. Exact: 8 × 255 × 131^7 ≈ 1.4e18 < 2^63. */
  private def poly8(f: Column): Column = {
    val padded = rpad(f, 8, " ")
    (0 until 8).map { k =>
      pmod(ascii(substring(padded, k + 1, 1)).cast("long"), lit(256L)) *
        lit(CharPows(k))
    }.reduce(_ + _)
  }

  /** Feature → weight-table bucket in [0, NumBuckets). */
  def bucket(f: Column): Column =
    pmod(poly8(f) + length(f).cast("long") * lit(LenMix), lit(NumBuckets))

  /** Feature → signed integer weight (the PRNG "trained" table). */
  def weight(f: Column): Column =
    pmod(bucket(f) * lit(WMul) + lit(WAdd), lit(WRange)) - lit(WShift)

  /** Unigram + bigram feature array from a token array: the tokens
    * themselves plus each adjacent pair joined with '_' (fastText's
    * wordNgrams=2). A 1-token doc has no bigrams (slice length 0). */
  def features(toks: Column): Column = {
    val n = size(toks)
    val bigrams = zip_with(
      slice(toks, lit(1), n - 1), slice(toks, lit(2), n - 1),
      (a, b) => concat(a, lit("_"), b))
    concat(toks, bigrams)
  }

  /** Exact integer classifier score: Σ weight(feature) over unigrams +
    * bigrams — one COMPILED pass per row, zero shuffle
    * ([[graft.expressions.HashClassifierScore]]; the HOF fold this
    * replaces ran on the interpreted ArrayAggregate path —
    * CodegenFallback — and dominated x46's bench time; the kernel is
    * property-spec-pinned bit-equal to [[scoreRawHof]]). */
  def scoreRaw(toks: Column): Column = graft.expressions.Kernels.hashClassifierScore(toks)

  /** The Column/HOF formulation of [[scoreRaw]] — kept as the
    * executable spec of the kernel's semantics (differential property
    * test) and as the shape a SQL replay uses. */
  private[graft] def scoreRawHof(toks: Column): Column =
    aggregate(features(toks), lit(0L), (acc, f) => acc + weight(f))
}
