package graft.operators

import scala.reflect.runtime.universe.TypeTag
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.Settle
import graft.expressions.Kernels

/** Document-deduplication operators for training-data pipelines.
  *
  * Scale posture (100 TB): every variant shuffles only fixed-size
  * digests/signatures, never the text. Exact dedup is a hash groupBy;
  * MinHash/SimHash shuffle (band-key, id) pairs; candidate verification
  * joins the text back only for the (rare) colliding pairs.
  *
  * Every near-dup operator is one filter-and-verify pipeline (the shape
  * of REPOSE, ICDE 2021, and of incremental top-k similarity search,
  * EDBT 2020): a candidate filter — the salted block-local pair builder
  * [[blockPairs]], the blocked-gram builder [[gramPairs]] or the
  * band-key equi-join [[bandMatches]] against an index — then one exact
  * verify over the pair's joined-back sides ([[joinBack]],
  * [[jaccardVerified]]), and, where each document gets a verdict, one
  * best-match [[verdict]]. No operator spells a step of its own. */
object Dedup {

  // The MinHash shape: 3-word shingles, 64 permutations in 32 bands of
  // 2 rows (minhashPairs says why). Fixed, so every index built anywhere
  // — a stored pool's, each batch's — matches every other.
  private val W = 3
  private val H = 64
  private val Bands = 32
  // Salting bounds of the block-local pair builder: a bucket of more
  // than CapBucket ids splits into at most MaxSalt hash sub-buckets.
  private val CapBucket = 4096
  private val MaxSalt = 64

  /** Normalized text: lowercase, collapsed whitespace, trimmed — one
    * compiled pass (graft.expressions.NormalizeText), byte-identical to
    * the `trim(regexp_replace(lower(text), "\\s+", " "))` formulation
    * the oracles use. */
  def normText(text: Column): Column = Kernels.normalizeText(text)

  /** Conditional skew salting for bucket-local pair generation.
    *
    * Input needs columns `id`, `band`, `key`; output adds `sub`
    * (the row's hash sub-bucket) and `gi` <= `gj` (the sub-bucket PAIR
    * group this copy participates in). A bucket of B rows gets
    * S = min(ceil(B / cap), maxSalt) sub-buckets; each row replicates
    * to its S groups {(min(sub,j), max(sub,j))}. Pair enumeration per
    * (band, key, gi, gj) group then touches ~B/S rows, so one
    * degenerate band key (boilerplate/empty docs sharing a signature)
    * costs S(S+1)/2 bounded tasks instead of ONE quadratic task.
    * S = 1 (every healthy bucket) reproduces the unsalted layout with
    * zero replication.
    *
    * Exactness: pairs within sub-bucket i appear only in group (i,i);
    * pairs across i < j only in (i,j) — each candidate pair is
    * enumerated exactly once. Truly pathological cliques (B >> cap ×
    * maxSalt) remain quadratic WORK by definition — a clique of B
    * near-identical docs has B²/2 true pairs; mass-identical content
    * should fall to [[exactGroups]] first, which collapses it in one
    * hash aggregate. */
  private[graft] def saltBuckets(df: DataFrame, cap: Int, maxSalt: Int): DataFrame = {
    // Oversized buckets are found with a partial-aggregating count and
    // broadcast back — NOT a window over the exploded rows, which would
    // sort the whole relation just to count. The over-cap set is small
    // by construction: every entry needs > cap rows, so it has at most
    // rows/cap entries (and in a healthy corpus it is empty) — the
    // standard skew-handling shape: tiny skew map broadcast, big side
    // untouched.
    // nsalt is computed INSIDE the skew map (not after the join): Spark's
    // least()/greatest() skip nulls, so least(null_bsz, maxSalt) after a
    // left join would silently return maxSalt for every healthy bucket.
    val big = df.groupBy("band", "key")
      .agg(count(lit(1)).as("bsz"))
      .filter(col("bsz") > cap)
      .select(col("band"), col("key"),
        least(ceil(col("bsz").cast("double") / cap), lit(maxSalt.toLong))
          .cast("int").as("bigsalt"))
    // Healthy corpus = empty skew map: skip the join and per-row group
    // explode entirely and stamp the trivial layout. The existence
    // check is one driver-side scalar over the already-needed aggregate
    // — the same runtime-stats shape AQE uses to pick skew handling.
    if (big.isEmpty) {
      df.withColumn("sub", lit(0)).withColumn("gi", lit(0)).withColumn("gj", lit(0))
    } else {
      df.join(broadcast(big), Seq("band", "key"), "left")
        .withColumn("nsalt", coalesce(col("bigsalt"), lit(1)))
        .withColumn("sub", pmod(xxhash64(col("id")), col("nsalt")).cast("int"))
        .withColumn("g", explode(transform(sequence(lit(0), col("nsalt") - 1),
          j => struct(least(col("sub"), j).as("gi"), greatest(col("sub"), j).as("gj")))))
        .withColumn("gi", col("g.gi")).withColumn("gj", col("g.gj"))
        .drop("g", "bigsalt", "nsalt")
    }
  }

  /** Pairs of one salted group's payloads, smaller id first: all pairs
    * for a diagonal group (gi == gj), only cross-sub pairs off-diagonal
    * (within-sub pairs belong to that sub's own diagonal group). */
  private def groupPairs[P](rows: IndexedSeq[(P, Int)], gi: Int, gj: Int,
      id: P => Long): Iterator[(P, P)] =
    if (gi == gj) {
      val ps = rows.map(_._1).sortBy(id)
      for {
        i <- ps.indices.iterator
        j <- (i + 1) until ps.length
      } yield (ps(i), ps(j))
    } else {
      val as = rows.collect { case (p, s) if s == gi => p }
      val bs = rows.collect { case (p, s) if s == gj => p }
      for {
        a <- as.iterator
        b <- bs.iterator
      } yield if (id(a) < id(b)) (a, b) else (b, a)
    }

  /** The salted block-local pair builder (the filter of [[minhashPairs]],
    * [[simhashPairs]] and [[editDistancePairs]]): `keyed` rows (id,
    * band, key, …) group per salted (band, key) sub-group
    * ([[saltBuckets]]), and each in-group pair of `payload` values goes
    * once through `keep` inside the group's task, so a pair `keep`
    * rejects never becomes a row. One shuffle of the keyed rows — never
    * of materialized pair rows, as a self-join on the bucket would be. */
  private def blockPairs[P: TypeTag, O <: Product : TypeTag](keyed: DataFrame,
      payload: Column, id: P => Long, cap: Int, maxSalt: Int)(
      keep: (P, P) => Option[O]): Dataset[O] = {
    val spark = keyed.sparkSession
    import spark.implicits._
    saltBuckets(keyed, cap, maxSalt)
      .select(payload, col("sub"), col("band"), col("key"), col("gi"), col("gj"))
      .as[(P, Int, Int, Long, Int, Int)]
      .groupByKey(t => (t._3, t._4, t._5, t._6))
      .flatMapGroups { (k, it) =>
        groupPairs(it.map(t => (t._1, t._2)).toIndexedSeq, k._3, k._4, id)
          .flatMap(keep.tupled)
      }
  }

  /** Candidate pairs (id_a, id_b) with `a`'s other columns joined back
    * on id_a and `b`'s on id_b, suffixed `_a` / `_b` — the verify side
    * of every pair operator. `a` and `b` carry an `id` column. */
  private def joinBack(pairs: DataFrame, a: DataFrame, b: DataFrame): DataFrame = {
    def side(s: DataFrame, x: String): DataFrame =
      s.toDF(s.columns.map(c => if (c == "id") s"id_$x" else s"${c}_$x"): _*)
    pairs.join(side(a, "a"), "id_a").join(side(b, "b"), "id_b")
  }

  /** The one exact verify of the MinHash operators: distinct candidate
    * pairs, id_a's shingle set from index `a` and id_b's from `b`, kept
    * iff their Jaccard (a merge-scan intersect of the sorted sets) is at
    * least `threshold`. Returns (id_a, id_b, jaccard). */
  private def jaccardVerified(cand: DataFrame, a: DataFrame, b: DataFrame,
      threshold: Double): DataFrame =
    joinBack(cand.distinct(), a.select("id", "sh"), b.select("id", "sh"))
      .withColumn("common",
        Kernels.sortedIntersectCount(col("sh_a"), col("sh_b")).cast("double"))
      .withColumn("jaccard",
        col("common") / (size(col("sh_a")) + size(col("sh_b")) - col("common")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")

  /** The best-match verdict: one row per `ids` row (its columns, then
    * `flag`, the partner column and the score column of `hits`). `hits`
    * is (id, partner, score) per verified match; the smallest partner
    * wins and its own score rides along in the struct-min, so the row is
    * deterministic. Unmatched ids get flag false and nulls. */
  private def verdict(ids: DataFrame, hits: DataFrame, flag: String): DataFrame = {
    val Array(_, of, score) = hits.columns
    val best = hits.groupBy("id")
      .agg(min(struct(col(of), col(score))).as("m"))
      .select(col("id"), col(s"m.$of").as(of), col(s"m.$score").as(score))
    ids.join(best, Seq("id"), "left")
      .select(ids.columns.map(col) ++
        Seq(col(of).isNotNull.as(flag), col(of), col(score)): _*)
  }

  // ---------------------------------------------------------------------
  // Exact dedup
  // ---------------------------------------------------------------------

  /** Exact dedup on a content digest: one hash-partitioned groupBy;
    * keeps the minimum id per digest (deterministic winner). */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(sha2(normText(col(textCol)), 256).as("digest"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  // ---------------------------------------------------------------------
  // MinHash + LSH
  // ---------------------------------------------------------------------

  /** Word w-shingles of the normalized text as SORTED DISTINCT 64-bit
    * hashes — one compiled pass (graft.expressions.TextHashKernels;
    * replaced a chain of interpreted zip_with/transform HOF lambdas).
    * Sorted: min-hash aggregation is order-independent, and the jaccard
    * verify join gets a merge-scan intersection. Documents shorter than
    * `w` words get one partial shingle. */
  def shingleHashes(text: Column, w: Int = 3): Column =
    Kernels.wordShingleHashes(normText(text), w)

  /** The one MinHash index: (id, sh = the sorted shingle hashes, bands =
    * the 32 band keys) per document. [[minhashPairs]] and
    * [[incrementalDedup]] build it per call; a closed held-out pool's is
    * built ONCE at deployment and each batch's per trigger
    * ([[leakageVerdictsIndexed]], streaming S34). The caller caches it. */
  def leakageIndex(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).cast("long").as("id"),
        shingleHashes(col(textCol), W).as("sh"))
      .withColumn("bands", Kernels.bandKeys(Kernels.minhash(col("sh"), H), H, Bands))

  /** An index's (id, band, key) rows: one per band of each document. */
  private def bandRows(idx: DataFrame): DataFrame =
    idx.select(col("id"), posexplode(col("bands")).as(Seq("band", "key")))

  /** The index-matching filter: (id_a, id_b) for every batch document
    * id_a and pool document id_b that share a band key — one
    * key-partitioned equi-join, so a hot band key is AQE-skew-splittable
    * rather than one quadratic task. Not distinct. */
  private def bandMatches(batchIdx: DataFrame, poolIdx: DataFrame): DataFrame =
    bandRows(batchIdx)
      .join(bandRows(poolIdx).toDF("id_b", "band", "key"), Seq("band", "key"))
      .select(col("id").as("id_a"), col("id_b"))

  /** Candidate near-duplicate pairs via MinHash LSH, verified with the
    * exact shingle-set Jaccard. Returns (id_a, id_b, jaccard) with
    * jaccard >= `threshold`.
    *
    * Banding: 32 bands × 2 rows (h = 64). At a 0.5 threshold the
    * per-pair miss probability is (1−j²)^32 ≤ 1e-4 on the whole
    * j ≥ 0.5 region — 4-row bands (16 × 4) miss j ≈ 0.6 pairs ~8% of
    * the time, which surfaced as a real dropped pair at sf0.1. Shorter
    * bands admit more low-similarity candidates, but those die in the
    * cheap sorted-intersect verify.
    *
    * Shuffle profile: explode of (id, band, key) — 32 rows of 16 bytes
    * per doc — then one shuffle grouping them per salted (band, key)
    * bucket, whose task enumerates its pairs ([[blockPairs]]); shingle
    * arrays are joined back only for distinct candidate pairs. */
  def minhashPairs(df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.5): DataFrame =
    minhashPairs(df, idCol, textCol, threshold, CapBucket, MaxSalt)

  /** [[minhashPairs]] under explicit salting bounds: DedupSkewSpec's
    * hook to force the salted and the unsalted layout. */
  private[graft] def minhashPairs(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, cap: Int, maxSalt: Int): DataFrame = Settle.scope("minhashPairs") { st =>
    // persisted: consumed three times below (band explode + both
    // verify-join sides). At cluster scale this is a checkpoint.
    val idx = st.cache(leakageIndex(df, idCol, textCol))
    val cand = blockPairs[Long, (Long, Long)](bandRows(idx), col("id"), identity,
      cap, maxSalt)((a, b) => Some((a, b))).toDF("id_a", "id_b")
    // verified-pair result settles eagerly (it is the output —
    // pair-bounded, orders of magnitude under the corpus) so the
    // scope releases the index cache on return
    st.settle(jaccardVerified(cand, idx, idx, threshold), "verify")
  }

  /** Incremental (continuous-crawl) dedup: match a NEW batch against an
    * EXISTING corpus's LSH band index plus the batch itself, and return
    * one verdict row per batch document — WITHOUT re-pairing the
    * corpus. This is the shape a 100 TB pipeline actually runs: the
    * corpus's index ([[leakageIndex]]) is computed once at ingest and
    * stored; each incoming crawl batch only explodes ITS OWN bands,
    * hash-joins them against the index, and exact-verifies the few
    * candidates. Corpus text never re-shuffles, corpus×corpus pairs
    * never re-enumerate.
    *
    * Matching policy: a batch doc is a duplicate if some corpus doc, or
    * an EARLIER batch doc (smaller id — the dedup direction inside the
    * batch), has shingle-Jaccard >= `threshold`. `dup_of` is the
    * smallest matching id (deterministic), `jaccard` that pair's score.
    * Ids must be unique across corpus ∪ batch.
    *
    * Returns (id, is_dup, dup_of, jaccard) for every batch row.
    *
    * Scale shape: [[leakageVerdictsIndexed]]'s candidate → verify →
    * verdict path against the pool corpus ∪ batch; only the admission
    * rule (any corpus hit, an in-batch hit only from a smaller id) is
    * this operator's own. */
  def incrementalDedup(corpus: DataFrame, batch: DataFrame,
      idCol: String, textCol: String,
      threshold: Double = 0.5): DataFrame = Settle.scope("incrementalDedup") { st =>
    // the corpus index: in production a stored table, here built once
    val corpusIdx = st.cache(leakageIndex(corpus, idCol, textCol))
    val batchIdx = st.cache(leakageIndex(batch, idCol, textCol))
    val cand = bandMatches(batchIdx, corpusIdx)
      .union(bandMatches(batchIdx, batchIdx).filter(col("id_b") < col("id_a")))
    val hits = jaccardVerified(cand, batchIdx, corpusIdx.union(batchIdx), threshold)
    // batch-row-sized verdicts settle eagerly: both index caches go on return
    st.settle(verdict(batchIdx.select("id"), hits.toDF("id", "dup_of", "jaccard"),
      "is_dup"), "verdicts")
  }

  /** Cross-boundary near-dup verdicts against a FIXED held-out pool —
    * the quarantine relation of p7 and the per-trigger kernel of
    * streaming S34: each batch (train-candidate) doc is flagged iff
    * some HELD-OUT doc has shingle-Jaccard >= `threshold`. No in-batch
    * pairing — train docs never quarantine each other (the leakage
    * relation is train×test only), which is what makes this the one
    * index-matching kernel with NO intra-batch-blindness caveat: the
    * pool is closed at deployment.
    *
    * Returns (id, is_leak, leak_of, jaccard) for every batch row;
    * `leak_of` is the smallest matching held-out id (deterministic),
    * `jaccard` that pair's score.
    *
    * Scale shape: the batch explodes only its own bands into a
    * key-partitioned equi-join against the stored index; exact
    * verification touches surviving candidates only. The held-out
    * index is test-set-sized and CONSTANT — at a 10% hold-out it is the
    * small side by construction and broadcast-eligible. */
  def leakageVerdicts(heldOut: DataFrame, batch: DataFrame,
      idCol: String, textCol: String,
      threshold: Double = 0.5): DataFrame = Settle.scope("leakageVerdicts") { st =>
    // batch-row-sized verdicts settle eagerly: both index caches go on return
    val poolIdx = st.cache(leakageIndex(heldOut, idCol, textCol))
    val batchIdx = st.cache(leakageIndex(batch, idCol, textCol))
    st.settle(leakageVerdictsIndexed(poolIdx, batchIdx, threshold), "verdicts")
  }

  /** [[leakageVerdicts]] over PRE-BUILT indexes — the kernel streaming
    * S34 drives so the fixed pool index is computed and cached once
    * for the stream's lifetime instead of re-shingled every trigger;
    * cache lifetimes belong to the caller (S34's trigger scope
    * releases the batch index when the trigger ends). */
  def leakageVerdictsIndexed(poolIdx: DataFrame, batchIdx: DataFrame,
      threshold: Double = 0.5): DataFrame = {
    val hits = jaccardVerified(bandMatches(batchIdx, poolIdx), batchIdx, poolIdx, threshold)
    verdict(batchIdx.select("id"), hits.toDF("id", "leak_of", "jaccard"), "is_leak")
  }

  /** Semantic dedup over an embedding column (SemDeDup, Abbas et al.
    * 2023, arXiv:2303.09540): a coarse quantizer clusters the corpus
    * into `nCells` cells, cosine comparisons run only WITHIN a cell,
    * and of each near-identical group the smallest id is kept. The
    * embedding-space counterpart of MinHash dedup — catches paraphrase/
    * re-encode duplicates that share no n-grams.
    *
    * Quantizer = the deterministic md5-order sample of
    * [[Similarity.ivfTopK]] ("sample") ranked SPHERICALLY: cell =
    * argmax cosine(v, centroid) (ties → smallest centroid id), so
    * assignment is scale-invariant like the comparison it gates — a
    * scaled re-encode of a vector provably shares its original's cell.
    * Centroids ride into the cosine nearest-centroid kernel as codegen
    * reference objects and assignment is a map-side argmax — no
    * training fit, and the whole index replays in plain SQL for the
    * oracle. The index and its within-cell pairs are
    * [[Similarity.sphericalCellPairs]], shared with the kNN graph.
    * Verdict rows are [[incrementalDedup]]'s [[verdict]]: (id, cell,
    * is_dup, dup_of, cos) with smallest-matching-id determinism; the
    * cosine comparison is bit-exact on both engines, so ANY threshold
    * is boundary-safe.
    *
    * Scale shape: assignment shuffles (cell, id, v) once; the
    * within-cell self-join is key-partitioned on the cell (AQE-
    * splittable if a cell runs hot) and enumerates O(Σ|cell|²) pairs —
    * SemDeDup's own cost model; size `nCells` ∝ corpus/expected-cell so
    * cells stay bounded (the paper uses ~100k cells at web scale). */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
      nCells: Int = 16, threshold: Double = 0.95): DataFrame = Settle.scope("semanticDedup") { st =>
    // `assign` is cached: both self-join sides and the verdict join
    // read it (measured ~40% slower uncached at sf0.1)
    val (assign, pairs) = Similarity.sphericalCellPairs(st, df, idCol, vecCol, nCells)
    val hits = pairs.filter(col("cos") >= threshold)
      .select(col("id_b").as("id"), col("id_a").as("dup_of"), col("cos"))
    verdict(assign.select(col("id"), col("cell")), hits, "is_dup")
  }

  // ---------------------------------------------------------------------
  // SimHash
  // ---------------------------------------------------------------------

  /** 64-bit SimHash of the token multiset: per bit, sign of the sum of
    * ±1 contributions from each token hash. Token hashes are 60-bit
    * md5 prefixes (one compiled pass — ShingleMinMd5.tokenHashes) so
    * the DuckDB oracle reproduces the exact bit pattern; the top 4
    * simhash bits are structurally 0. The 64 bit-counters run in a
    * single native-kernel pass. */
  def simhash(text: Column): Column =
    simhashFromTokHashes(tokenMd5Hashes(normText(text)))

  /** Per-token md5-prefix hashes of normalized text (compiled). */
  def tokenMd5Hashes(normed: Column): Column = Kernels.tokenMd5Hashes(normed)

  /** SimHash from a token-hash array: one compiled loop (static kernel
    * — see graft.expressions.SimHash64). */
  def simhashFromTokHashes(tokHashes: Column): Column = Kernels.simHash64(tokHashes)

  /** Near-dup pairs with Hamming distance <= maxDist on 64-bit SimHash.
    * Pigeonhole bucketing: split the hash into (maxDist+1) chunks — any
    * pair within maxDist agrees on at least one chunk, so pairs are
    * enumerated per (chunk, key) bucket through [[blockPairs]], never
    * all-pairs, and the Hamming filter runs inside the bucket's task. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
      maxDist: Int = 3): DataFrame =
    simhashPairs(df, idCol, textCol, maxDist, CapBucket, MaxSalt)

  /** [[simhashPairs]] under explicit salting bounds (DedupSkewSpec's
    * hook, as for [[minhashPairs]]). */
  private[graft] def simhashPairs(df: DataFrame, idCol: String, textCol: String,
      maxDist: Int, cap: Int, maxSalt: Int): DataFrame = {
    val chunks = maxDist + 1
    val bits = 64 / chunks
    val keyed = df.select(col(idCol).cast("long").as("id"),
        tokenMd5Hashes(normText(col(textCol))).as("th"))
      .select(col("id"), simhashFromTokHashes(col("th")).as("sh"))
      .select(col("id"), col("sh"),
        posexplode(array((0 until chunks).map(i =>
          shiftright(col("sh"), i * bits)
            .bitwiseAND(lit((1L << bits) - 1))): _*)).as(Seq("band", "key")))
    blockPairs[(Long, Long), (Long, Long, Int)](keyed,
        struct(col("id").as("_1"), col("sh").as("_2")), _._1, cap, maxSalt) { (a, b) =>
      val h = java.lang.Long.bitCount(a._2 ^ b._2)
      if (h <= maxDist) Some((a._1, b._1, h)) else None
    }.toDF("id_a", "id_b", "hamming").distinct()
  }

  // ---------------------------------------------------------------------
  // n-gram Jaccard (character level)
  // ---------------------------------------------------------------------

  /** Merge-scan intersection count of two sorted arrays, with an
    * unreachability bail-out: returns −1 as soon as `c + min(remaining)`
    * can no longer reach `need`. For dissimilar pairs (the overwhelming
    * majority in a block) the scan stops after ~(1 − need/min(|a|,|b|))
    * of the shorter side instead of exhausting both; `need` = 0 is the
    * plain count. */
  private def intersectCountAtLeast(a: Array[Long], b: Array[Long],
      need: Int): Int = {
    var i = 0; var j = 0; var c = 0
    while (i < a.length && j < b.length) {
      val remaining = math.min(a.length - i, b.length - j)
      if (c + remaining < need) return -1
      val x = a(i); val y = b(j)
      if (x == y) { c += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    if (c >= need) c else -1
  }

  /** Exact Jaccard of two sorted distinct gram-hash arrays. */
  private def gramJaccard(a: Array[Long], b: Array[Long]): Double = {
    val common = intersectCountAtLeast(a, b, 0).toDouble
    common / (a.length + b.length - common)
  }

  /** The blocked-gram builder (the filter of [[ngramJaccardPairs]],
    * [[containmentPairs]] and [[kmvCalibrationPairs]]): one shuffle
    * groups each block's (id, `payload` of the normalized text) rows,
    * and each in-block pair, smaller id first, goes once through `keep`
    * inside the group — gram arrays shuffle once, never as pair rows,
    * and sub-threshold pairs never materialize. The block key is the
    * array of `blockCols` (as strings) itself, so two blocks never merge.
    * Blocks must fit one task's memory — that bound is the blocking
    * key's design contract. */
  private def gramPairs[P: TypeTag, O <: Product : TypeTag](df: DataFrame,
      idCol: String, textCol: String, blockCols: Seq[Column],
      payload: Column => Column)(keep: ((Long, P), (Long, P)) => Option[O]): Dataset[O] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(array(blockCols.map(_.cast("string")): _*).as("bk"),
        col(idCol).cast("long").as("id"), normText(col(textCol)).as("nt"))
      .select(col("bk"), col("id"), payload(col("nt")))
      .as[(Seq[String], Long, P)]
      .groupByKey(_._1)
      .flatMapGroups { (_, it) =>
        val rows = it.map(t => (t._2, t._3)).toIndexedSeq.sortBy(_._1)
        for {
          i <- rows.indices.iterator
          j <- (i + 1) until rows.length
          o <- keep(rows(i), rows(j))
        } yield o
      }
  }

  /** Exact char-n-gram Jaccard for candidate pairs blocked on
    * `blockCols` (d4: source, length bucket) — blocking bounds the pair
    * count so the work never goes quadratic in the corpus. Grams are
    * SORTED DISTINCT hashed longs from one compiled pass, so each pair
    * verifies in one merge scan inside its block ([[gramPairs]]). */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      blockCols: Seq[Column], n: Int = 3, threshold: Double = 0.4): DataFrame =
    gramPairs[Array[Long], (Long, Long, Double)](df, idCol, textCol, blockCols,
        Kernels.charGramHashes(_, n)) { case ((ia, a), (ib, b)) =>
      Some((ia, ib, gramJaccard(a, b))).filter(_._3 >= threshold)
    }.toDF("id_a", "id_b", "jaccard")

  /** Asymmetric containment pairs: C(A→B) = |grams(A) ∩ grams(B)| /
    * |grams(A)| ≥ threshold — the quote / truncation / boilerplate-
    * expansion detector. A prefix-truncated copy has Jaccard ≈ 0.5
    * against its original (invisible to [[ngramJaccardPairs]] at 0.6)
    * but containment 1.0. Same blocked-gram shape as d4; each
    * qualifying pair is emitted once, contained side explicit (ties —
    * e.g. exact dups — resolve to the smaller id as contained). */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      blockCols: Seq[Column], n: Int = 3,
      threshold: Double = 0.8): DataFrame =
    gramPairs[Array[Long], (Long, Long, Double)](df, idCol, textCol, blockCols,
        Kernels.charGramHashes(_, n)) { case ((ia, a), (ib, b)) =>
      // qualification needs common ≥ ⌈th·min(|A|,|B|)⌉ — scan with
      // that bound so dissimilar pairs bail early
      val need = math.ceil(threshold * math.min(a.length, b.length)).toInt
      val common =
        if (a.isEmpty || b.isEmpty) -1 else intersectCountAtLeast(a, b, math.max(need, 1))
      val cab = common.toDouble / a.length
      val cba = common.toDouble / b.length
      if (common < 0 || math.max(cab, cba) < threshold) None
      else Some(if (cab >= cba) (ia, ib, cab) else (ib, ia, cba))
    }.toDF("contained_id", "container_id", "containment")

  /** KMV (bottom-k) Jaccard estimate vs EXACT Jaccard per candidate
    * pair — the sketch-calibration harness for the dedup family, e7's
    * role for the ANN indexes. At 100 TB the full sorted gram arrays
    * (O(doc length) per doc, the d4 verify cost) can be swapped for
    * constant-size KMV sketches — k longs per doc, pairs compare in
    * O(k) — and this operator measures exactly what that swap costs on
    * real pairs. Same blocked-gram shape as [[ngramJaccardPairs]]; per
    * emitted pair: exact = merge-scan Jaccard over full gram-hash
    * arrays, estimate = |bottom-k(A∪B) ∩ A_k ∩ B_k| / |bottom-k(A∪B)|
    * (Beyer et al., SIGMOD 2007) from the two sketches alone (bottom-k
    * of a union is computable from the merged bottom-ks — the sketch is
    * mergeable). md5-prefix hashes
    * ([[graft.expressions.ShingleMinMd5.charGramKmv]]) so every sketch
    * value — hence the estimate — replays in the oracle; both ratios
    * are raw IEEE divisions, no rounding anywhere. */
  def kmvCalibrationPairs(df: DataFrame, idCol: String, textCol: String,
      blockCols: Seq[Column], n: Int = 3, k: Int = 64,
      threshold: Double = 0.2): DataFrame =
    gramPairs[(Array[Long], Array[Long]), (Long, Long, Double, Double)](df, idCol,
        textCol, blockCols, nt => struct(Kernels.charGramHashes(nt, n).as("_1"),
          Kernels.charGramKmv(nt, n, k).as("_2"))) { case ((ia, (ga, ka)), (ib, (gb, kb))) =>
      val jac = gramJaccard(ga, gb)
      if (jac >= threshold) Some((ia, ib, jac, kmvJaccard(ka, kb, k))) else None
    }.toDF("id_a", "id_b", "j_exact", "j_kmv")

  /** KMV Jaccard estimate from two sorted bottom-k sketches: one merge
    * walk of the union ascending, stopping after k distinct values —
    * the fraction of those present in BOTH sketches. */
  private def kmvJaccard(a: Array[Long], b: Array[Long], k: Int): Double = {
    var i = 0; var j = 0; var taken = 0; var inBoth = 0
    while ((i < a.length || j < b.length) && taken < k) {
      if (j >= b.length || (i < a.length && a(i) < b(j))) i += 1
      else if (i >= a.length || b(j) < a(i)) j += 1
      else { inBoth += 1; i += 1; j += 1 }
      taken += 1
    }
    inBoth.toDouble / taken
  }

  // ---------------------------------------------------------------------
  // Embedding cosine near-dup
  // ---------------------------------------------------------------------

  /** Pairs of embeddings with cosine >= threshold.
    *
    * PRODUCTION path (`bands > 0`, the default): banded sign-LSH
    * candidate generation — `bands` keys of `bits` hyperplane signs per
    * vector (one pass, graft.expressions.Kernels.signLshBands), a
    * self-join per (band, key) bucket, then EXACT cosine verification
    * of the surviving candidates only. Never all-pairs: the shuffle
    * carries (band, key, id) triples, random pairs collide at
    * ~bands·2^-bits, and a true pair at cos ≥ 0.9 escapes all bands
    * with probability < 1e-8 at the defaults (exact verification means
    * false candidates cost only a dot product, never a wrong row).
    *
    * `bands = 0` forces the exact all-pairs quadratic path — the
    * verification twin for differential tests at small SF, NOT for
    * production data. */
  def embeddingDupPairs(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, bits: Int = 16, bands: Int = 32,
      dim: Int = 64): DataFrame = Settle.scope("embeddingDupPairs") { st =>
    // norms precomputed per vector (not per pair) and the relation
    // persisted across its consumers; the pair expression is then a
    // single dot + one division.
    val v = df.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
      .withColumn("nv", VectorOps.norm(col("v")))
    val cosExpr = Similarity.cosOf("a.v", "b.v", "a.nv", "b.nv")
    if (bands <= 0) {
      val cached = st.cache(v)
      cached.as("a").join(cached.as("b"), col("a.id") < col("b.id"))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"), cosExpr.as("cos"))
        .filter(col("cos") >= threshold)
    } else {
      val bk = Kernels.signLshBands(col("v"), bits, bands, dim)
      // persisted: band explode + both verify-join sides consume it
      val withB = st.cache(v.withColumn("bk", bk))
      val exploded = withB.select(col("id"), posexplode(col("bk")).as(Seq("band", "key")))
      val cand = exploded.as("a")
        .join(exploded.as("b"),
          col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
            col("a.id") < col("b.id"))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
        .distinct()
      val side = withB.select(col("id"), col("v"), col("nv"))
      joinBack(cand, side, side)
        .select(col("id_a"), col("id_b"), Similarity.cosOf("v_a", "v_b", "nv_a", "nv_b").as("cos"))
        .filter(col("cos") >= threshold)
    }
  }

  // ---------------------------------------------------------------------
  // Duplicate-cluster resolution (connected components over pair graph)
  // ---------------------------------------------------------------------

  /** Connected components over a near-dup pair graph: every pair
    * generator above emits edges; a keep-one-per-cluster policy needs
    * the transitive closure of those edges (A~B, B~C ⇒ one cluster
    * {A,B,C} even if A,C never paired). Reference scope: the dedup
    * pipeline this library's pair operators feed.
    *
    * Returns (id, cluster) for every vertex that appears in `pairs`,
    * with cluster = MIN vertex id of its component — the canonical
    * representative a keep-min policy retains.
    *
    * Algorithm: hash-min label propagation with pointer jumping
    * (Kiveris et al., "Connected Components in MapReduce and Beyond" —
    * public literature). Per round each vertex takes the min label in
    * its neighborhood, then compresses label chains by one hop
    * (lbl ← lbl(lbl)), so convergence is O(log n) rounds even on
    * path-shaped components — not O(diameter) as plain propagation.
    * Each round is two hash joins + one aggregate on the (id, lbl)
    * relation, all key-partitioned: nothing is collected to the
    * driver, and `localCheckpoint` truncates lineage so plans stay
    * O(1) per round (on a cluster, swap for reliable `checkpoint`).
    * Convergence test: labels only ever decrease, so one `isEmpty` on
    * the decreased-rows filter per round, not a full comparison join.
    * At 100 TB the label relation is one long per *distinct paired
    * doc* — orders of magnitude smaller than the corpus. */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 25): DataFrame = Settle.scope("connectedComponents") { st =>
    // materialize the pair list ONCE before symmetrizing: the union
    // references it twice, and Spark does not share a subplan across
    // union branches — without this, an expensive upstream (the LSH
    // pair generation) executes twice. The pair graph is orders of
    // magnitude smaller than the corpus, so an eager local checkpoint
    // is cheap and also cuts the iterative loop's replay lineage.
    val sym = st.settle(pairs.select(col(aCol).cast("long").as("src"),
      col(bCol).cast("long").as("dst")), "pairs")
    // repartition by src BEFORE persisting (guide §2.4): the distinct
    // leaves the cache hash-partitioned by (src, dst), and pinned to
    // src it satisfies every src-keyed consumer. `PlanDump
    // d6_dup_clusters` shows both regimes. While labels are small
    // enough to broadcast (sf0.001 and sf0.1) the round's src join is
    // a broadcast hash join that needs no edge Exchange either way,
    // and the pinned layout spares the seed labels aggregation its
    // Exchange. Past the broadcast bound (the same dump at sf0.001
    // with spark.sql.autoBroadcastJoinThreshold=-1) the round's src
    // sort-merge join reads the cache with no Exchange on the edge
    // side; without this repartition every round shuffles the FULL
    // edge table there.
    val edges = st.cache(sym.union(sym.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().repartition(col("src")))
    var labels = st.settle(edges.groupBy("src").agg(min("dst").as("nmin"))
      .select(col("src").as("id"), least(col("src"), col("nmin")).as("lbl")), "labels")
    var iter = 0
    var converged = labels.isEmpty
    while (!converged && iter < maxIter) {
      val fromNbrs = edges
        .join(labels.withColumnRenamed("id", "src"), Seq("src"))
        .groupBy(col("dst").as("id")).agg(min("lbl").as("nlbl"))
      val stepped = labels.join(fromNbrs, Seq("id"), "left")
        .select(col("id"), col("lbl").as("old"),
          least(col("lbl"), coalesce(col("nlbl"), col("lbl"))).as("mid"))
      // pointer jump: a label is itself a vertex id, so one self-join
      // replaces lbl with lbl's own label, halving chain lengths
      val jump = stepped.select(col("id").as("jid"), col("mid").as("jlbl"))
      // LAZY local checkpoint + one count: one job both materializes
      // the round's labels and answers "did anything change"
      val (next, changed) = st.settleWith(
        stepped.join(jump, col("mid") === col("jid"), "left")
          .select(col("id"), col("old"),
            least(col("mid"), coalesce(col("jlbl"), col("mid"))).as("lbl")),
        s"round-${iter + 1}")(_.filter(col("lbl") < col("old")).count())
      converged = changed == 0L
      labels = next.select("id", "lbl")
      iter += 1
    }
    if (!converged)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"connectedComponents: hit maxIter=$maxIter with labels still " +
          "changing; components may be under-merged (raise maxIter — " +
          "pointer jumping converges in O(log longest-chain) rounds)")
    labels
  }

  /** Cluster assignment + size + keep flag — the full dedup verdict a
    * pipeline applies: keep rows where `keep`, drop the rest. */
  def dupClusters(pairs: DataFrame, aCol: String, bCol: String): DataFrame = {
    val cc = connectedComponents(pairs, aCol, bCol)
    val sizes = cc.groupBy("lbl").agg(count(lit(1)).as("cluster_size"))
    cc.join(sizes, "lbl")
      .select(col("id"), col("lbl").as("cluster_id"), col("cluster_size"),
        (col("id") === col("lbl")).as("keep"))
  }

  // ---------------------------------------------------------------------
  // Duplicated spans
  // ---------------------------------------------------------------------

  /** Corpus-INTERNAL duplicated-span statistics: for each document, how
    * many of its distinct word `w`-grams also occur in at least one
    * OTHER document (the fixed-length-gram simplification of exact
    * substring dedup, Lee et al. 2022, "Deduplicating Training Data
    * Makes Language Models Better" §4.1 — reference-adjacent pipeline
    * lore; the reference type library has no corpus-level op).
    * `decontaminate` compares against a small broadcast eval set; this
    * is the self-comparison where BOTH sides are the 100 TB corpus.
    *
    * Returns (id, n_grams, n_shared, shared_frac): distinct w-grams in
    * the doc, how many of them are shared corpus-wide, and the ratio —
    * the signal a pipeline thresholds to drop or mask boilerplate-heavy
    * documents.
    *
    * Scale shape: the exploded relation is (id, gramHash) = 16 B rows —
    * text NEVER shuffles. Two hash-partitioned passes: (1) groupBy(g)
    * document-frequency, keeping only grams with df > 1 (the duplicated
    * vocabulary — tiny next to the gram table on real corpora); (2) a
    * shuffle hash join of the gram table against it, re-aggregated per
    * doc. The duplicated-gram side is NOT forced broadcast: on a
    * boilerplate-heavy corpus it can be arbitrarily large, so the plan
    * stays a key-partitioned join and AQE may downgrade it to broadcast
    * when the df>1 relation turns out small. The gram table is
    * persisted across its consumers (df aggregate, shared-count join,
    * per-doc totals): the compiled shingle kernel is the dominant map
    * cost and the cached rows are 16 B hashes — re-running it per
    * consumer measured strictly worse (r13 A/B). A doc shorter than
    * `w` words contributes its whole text as one partial gram
    * (shingleHashes' documented fallback). */
  def dupSpans(corpus: DataFrame, idCol: String, textCol: String,
      w: Int = 13): DataFrame = Settle.scope("dupSpans") { st =>
    // explode_OUTER: a NULL text keeps one (id, null) row — null grams
    // never equi-join (so they can't be "shared") and count(g) skips
    // them, so nullif(·, 0) below gives it (id, null, 0, null), pinned
    // by DedupSpec's null-text case
    val grams = st.cache(corpus.select(col(idCol).as("id"),
      explode_outer(shingleHashes(col(textCol), w)).as("g")))
    val dupGrams = grams.groupBy("g")
      .agg(count(lit(1)).as("ndocs"))
      .filter(col("ndocs") > 1 && col("g").isNotNull)
      .select("g")
    val shared = grams.join(dupGrams, Seq("g"))
      .groupBy("id").agg(count(lit(1)).as("n_shared"))
    // n_grams counts the same cached gram table (shingleHashes is
    // non-empty for every non-null doc, so count(g) = 0 only for a null
    // text); the per-doc narrow result settles eagerly, so the gram
    // cache goes on return
    st.settle(grams.groupBy("id")
      .agg(nullif(count(col("g")), lit(0L)).as("n_grams"))
      .join(shared, Seq("id"), "left")
      .select(col("id"), col("n_grams"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        round(coalesce(col("n_shared"), lit(0L)) / col("n_grams"), 6)
          .as("shared_frac")), "spans")
  }

  /** d20: TRUE variable-length exact duplicated-substring spans — the
    * Lee et al. 2022 §4.1 ExactSubstr semantics ([[dupSpans]] is the
    * fixed-w-gram simplification this strictly subsumes): every MAXIMAL
    * token span of length >= `minLen` that occurs at two positions in
    * the corpus (cross-doc or within-doc), with both positions.
    *
    * Formulation: gram-chain merge over the diagonal, the distributed
    * equivalent of the suffix-array scan — (1) every token position
    * emits its forward `minLen`-gram hash; (2) equal hashes join into
    * occurrence pairs; (3) within one (id_a, id_b, pos_a − pos_b)
    * DIAGONAL, consecutive pos_a values are windows of ONE common
    * substring, so maximal islands (the classic pos − row_number
    * grouping) ARE the maximal duplicated substrings: a common span of
    * T tokens yields exactly its T − minLen + 1 consecutive windows on
    * that diagonal, and conversely an island cannot extend past the
    * point where the texts differ. Returns (id_a, id_b, start_a,
    * start_b, span_tokens) with span_tokens = island + minLen − 1;
    * ordered pairs (id_a < id_b, or pos_a < pos_b within a doc) so each
    * span is reported once.
    *
    * Scale shape: digests shuffle, text does NOT — the joined relation
    * is (id, pos, gramHash) rows of ~20 B regardless of document size.
    * Join cost is Σ_g df(g)² over positional grams (LSH-candidate
    * shape); the per-diagonal window sorts only matched pairs, a
    * partitioned window keyed by (id_a, id_b, diag). A corpus-wide
    * boilerplate gram (df in the thousands) inflates df² exactly as it
    * inflates a suffix array's match enumeration — mass-identical
    * content should fall to [[exactGroups]] first, and a df cap is a
    * recall-LOSSY option deliberately not taken here (exactness is the
    * contract). Degenerate within-doc periodicity (period < minLen)
    * self-matches quadratically, same as the suffix-array ground truth.
    *
    * Hashing: xxhash64 over the gram string — a collision could fuse
    * two unrelated windows (the d2 "modulo hash collisions" discipline;
    * the oracle joins gram STRINGS, so a collision would surface as a
    * gate mismatch rather than hide). */
  def exactSubstringSpans(corpus: DataFrame, idCol: String,
      textCol: String, minLen: Int = 13): DataFrame = Settle.scope("exactSubstringSpans") { st =>
    // PERSISTED: both self-join sides scan the positional index; the
    // tokenize + per-window hash is the operator's dominant map cost
    val grams = st.cache(positionalGrams(corpus, idCol, textCol, minLen))
    val lhs = grams.select(col("gh"), col("id").as("id_a"),
      col("pos").as("pos_a"))
    val rhs = grams.select(col("gh"), col("id").as("id_b"),
      col("pos").as("pos_b"))
    val pairs = lhs.join(rhs, Seq("gh"))
      .filter(col("id_a") < col("id_b") ||
        (col("id_a") === col("id_b") && col("pos_a") < col("pos_b")))
      .select("id_a", "pos_a", "id_b", "pos_b")
    // span-report result settles eagerly so the gram cache goes on
    // return (the report IS the output: settling adds no compute)
    st.settle(diagonalSpans(pairs, minLen), "spans")
  }

  /** d22: [[exactSubstringSpans]] with the exactGroups pre-collapse
    * FUSED IN — the documented "mass-identical content falls to
    * exactGroups first" posture as code, not prose. Bit-identical
    * documents (same normalized text) collapse to their min-id
    * REPRESENTATIVE before the positional-gram join, the diagonal scan
    * runs over representatives only, and each surviving span carries
    * its pair MULTIPLICITY arithmetically instead of enumerating
    * member pairs: a group of G identical docs contributes G·(G−1)/2
    * expanded pairs per cross row without a single extra joined row.
    *
    * Returns (id_a, id_b, start_a, start_b, span_tokens, n_pairs) with
    * id_a/id_b GROUP REPRESENTATIVES; n_pairs counts the d20 rows the
    * row stands for. Expansion rules (ExactSubstrSpec proves the
    * expanded multiset equals [[exactSubstringSpans]] exactly):
    *
    *  - cross-group row (id_a ≠ id_b): every (x ∈ A, y ∈ B) member
    *    pair shares the span — n_pairs = |A|·|B|. The expanded pair
    *    orients by member ids: when min(x,y) sits in B the starts
    *    swap sides (spans between identical texts are symmetric).
    *  - within-group, start_a < start_b: the representative's
    *    within-doc span. Every member has it (G copies), and every
    *    distinct member pair ALSO shares it cross-doc in this
    *    orientation — n_pairs = G + G·(G−1)/2.
    *  - within-group, start_a > start_b (emitted only when G ≥ 2):
    *    the MIRROR — between two identical member docs the match set
    *    is the text's full self-match relation, so each within-doc
    *    island also appears with sides swapped — n_pairs = G·(G−1)/2.
    *  - within-group, start_a = start_b = 0 (G ≥ 2, doc ≥ minLen
    *    tokens): the diagonal-0 FULL-DOCUMENT span (span_tokens =
    *    doc length) every distinct member pair shares — n_pairs =
    *    G·(G−1)/2.
    *
    * Scale shape: the gram join's Σ df² runs over DISTINCT-text df, so
    * a million bit-identical boilerplate docs cost ONE doc's grams +
    * one hash aggregate — the quadratic blowup moves into the n_pairs
    * integer. Content that is near-identical but not bit-identical
    * (shared prefixes/templates with unique tails) does NOT collapse —
    * its pair output is genuinely quadratic and this report stays
    * output-bound there; the REWRITE escape hatch for that regime is
    * [[removeDuplicateSpansOwned]], which never enumerates pairs at
    * all. */
  def exactSubstringSpansGrouped(corpus: DataFrame, idCol: String,
      textCol: String, minLen: Int = 13): DataFrame = Settle.scope("exactSubstringSpansGrouped") { st =>
    val norm = corpus.select(col(idCol).cast("long").as("id"),
      normText(col(textCol)).as("nt"))
    val withDg = norm.withColumn("dg", sha2(col("nt"), 256))
    // identity groups: only (digest, id) pairs shuffle, never text
    val groups = withDg.groupBy("dg")
      .agg(min("id").as("rep"), count(lit(1)).as("gsz"))
    val reps = st.cache(withDg.join(groups, Seq("dg"))
      .filter(col("id") === col("rep"))
      .select(col("id"), col("nt"), col("gsz"),
        size(split(col("nt"), " ")).cast("long").as("n_toks")))
    val sz = reps.select(col("id"), col("gsz"))
    // the d20 diagonal scan, representatives only (normText is
    // idempotent, so re-normalizing nt inside is a no-op); the report
    // arrives settled, so both branches below read it materialized
    val repSpans = exactSubstringSpans(reps, "id", "nt", minLen)
    val half = expr("gsz * (gsz - 1) DIV 2")
    val cross = joinBack(repSpans.filter(col("id_a") =!= col("id_b")), sz, sz)
      .select(col("id_a"), col("id_b"), col("start_a"), col("start_b"),
        col("span_tokens"), (col("gsz_a") * col("gsz_b")).as("n_pairs"))
    val within = st.cache(repSpans.filter(col("id_a") === col("id_b"))
      .join(sz.toDF("id_a", "gsz"), "id_a"))
    val withinRows = within.select(col("id_a"),
      col("id_a").as("id_b"), col("start_a"), col("start_b"),
      col("span_tokens"), (col("gsz") + half).as("n_pairs"))
    val mirrorRows = within.filter(col("gsz") >= 2)
      .select(col("id_a"), col("id_a").as("id_b"),
        col("start_b").as("start_a"), col("start_a").as("start_b"),
        col("span_tokens"), half.as("n_pairs"))
    val fullRows = reps.filter(col("gsz") >= 2 && col("n_toks") >= minLen)
      .select(col("id").as("id_a"), col("id").as("id_b"),
        lit(0L).as("start_a"), lit(0L).as("start_b"),
        col("n_toks").as("span_tokens"),
        half.as("n_pairs"))
    // grouped report settles eagerly (it is the output) so the rep
    // and within caches go on return
    st.settle(cross.unionByName(withinRows).unionByName(mirrorRows)
      .unionByName(fullRows), "report")
  }

  /** The (id, pos, gramHash) positional index [[exactSubstringSpans]]
    * and [[crossSubstringSpans]] join on — one row per `minLen`-token
    * forward window of the normalized text, ~20 B regardless of doc
    * size. Build ONCE over a closed pool at deployment (the
    * leakageIndex discipline) and per trigger over arriving batches. */
  def positionalGrams(corpus: DataFrame, idCol: String,
      textCol: String, minLen: Int = 13): DataFrame =
    corpus
      .select(col(idCol).cast("long").as("id"),
        split(normText(col(textCol)), " ").as("ts"))
      .filter(size(col("ts")) >= minLen)
      .select(col("id"), posexplode(expr(
        s"""transform(sequence(0, size(ts) - $minLen),
           |  i -> xxhash64(concat_ws(' ', slice(ts, i + 1, $minLen))))"""
          .stripMargin)).as(Seq("pos", "gh")))

  /** Maximal-island fold shared by the span operators: matched window
    * pairs (id_a, pos_a, id_b, pos_b) → maximal spans per diagonal
    * (see [[exactSubstringSpans]]'s correctness argument). */
  private def diagonalSpans(pairs: DataFrame, minLen: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val diag = pairs.withColumn("diag", col("pos_a") - col("pos_b"))
    val w = Window.partitionBy("id_a", "id_b", "diag").orderBy("pos_a")
    diag.withColumn("island", col("pos_a") - row_number().over(w))
      .groupBy("id_a", "id_b", "diag", "island")
      .agg(min("pos_a").cast("long").as("start_a"),
        min("pos_b").cast("long").as("start_b"),
        (count(lit(1)) + (minLen - 1)).as("span_tokens"))
      .select("id_a", "id_b", "start_a", "start_b", "span_tokens")
  }

  /** CROSS-corpus exact-substring spans over PRE-BUILT positional
    * indexes ([[positionalGrams]]) — the d20 report restricted to
    * (pool doc, batch doc) pairs, the kernel streaming S40 drives:
    * every maximal token span ≥ minLen that a batch doc shares with
    * some pool doc, with both offsets. Id spaces must be disjoint by
    * contract (pool closed at deployment; batch ids fresh) — no
    * ordered-pair filter is applied, a (pool, batch) pair is reported
    * once as (id_a = pool, id_b = batch). */
  def crossSubstringSpans(poolIdx: DataFrame, batchIdx: DataFrame,
      minLen: Int = 13): DataFrame = {
    val pairs = poolIdx
      .select(col("gh"), col("id").as("id_a"), col("pos").as("pos_a"))
      .join(batchIdx
        .select(col("gh"), col("id").as("id_b"), col("pos").as("pos_b")),
        Seq("gh"))
      .select("id_a", "pos_a", "id_b", "pos_b")
    diagonalSpans(pairs, minLen)
  }

  /** d21: duplicate-span REMOVAL — the pipeline ACTION over
    * [[exactSubstringSpans]]'s report (Lee et al. 2022 §4.1 actually
    * rewrites the corpus, keeping one occurrence of each duplicated
    * substring): for every reported span the LATER occurrence (the
    * pair's b side — spans are emitted ordered, id_a < id_b or
    * pos_a < pos_b within a doc) is cut, so the canonical (first)
    * occurrence survives and chained copies (doc3 = doc2 = doc1)
    * collapse onto the earliest. Per doc, the cut intervals union
    * through [[Intervals.merge]] (q63's associative operator — spans
    * from different partners overlap freely), and the kept text is one
    * array-HOF filter over the token array: positions covered by no
    * merged interval survive, in order.
    *
    * Returns (id, n_tokens, n_kept, n_removed, kept_text) over the
    * NORMALIZED text (the span coordinate system).
    *
    * Scale shape: spans + merged intervals shuffle (id-keyed, interval
    * counts bounded by doc length); the text joins ONCE against the
    * per-doc interval array and the filter runs inside the row — no
    * per-position explode. The quadratic-output caveat on
    * [[exactSubstringSpans]] applies to the REPORT; the removal side
    * only ever materializes per-doc interval sets, which are
    * doc-length-bounded regardless of how many partners share a span. */
  def removeDuplicateSpans(corpus: DataFrame, idCol: String,
      textCol: String, minLen: Int = 13): DataFrame = {
    val spans = exactSubstringSpans(corpus, idCol, textCol, minLen)
    applyCuts(corpus, idCol, textCol, mergedIntervals(
      spans.select(col("id_b").as("id"), col("start_b").as("ss"),
        (col("start_b") + col("span_tokens")).as("ee"), lit(1L).as("n"))))
  }

  /** d23: [[removeDuplicateSpans]] WITHOUT the pair enumeration — the
    * 100 TB production form of the corpus rewrite. The key identity: a
    * token window at (id, pos) lands inside some cut interval iff its
    * gram has an occurrence at a lexicographically EARLIER (id', pos')
    * — i.e. iff (id, pos) is not its gram's FIRST occurrence.
    *
    * Proof of output equality with the pair form (spec-pinned in
    * ExactSubstrSpec, oracle-pinned by sharing d21's DuckDB replay):
    * (⊆) a non-owner window (id, pos) pairs with its gram's owner
    * (id', pos'), which passes d20's orientation filter (id' < id, or
    * id' = id ∧ pos' < pos), so the window sits on some island whose
    * b-side interval [start_b, start_b + span) ⊇ [pos, pos + minLen).
    * (⊇) an island's b-side positions are CONSECUTIVE (same diagonal,
    * consecutive pos_a), each matched against a lex-earlier partner,
    * so its interval [start_b, start_b + span) = the union of its
    * windows' [pos, pos + minLen) — every one a non-owner window.
    * The per-doc interval UNIONS therefore coincide exactly, and the
    * rewrite — a function of that union — is identical.
    *
    * Scale shape: LINEAR where the pair form is quadratic in df — one
    * groupBy(gh) min with map-side partials (the ownership table), one
    * key-partitioned join back (one row per OCCURRENCE, never per
    * occurrence PAIR — a corpus-wide boilerplate gram with df = 100k
    * costs 100k join rows here vs 10^10 pair rows in the report), then
    * d21's interval merge + in-row filter. This is the form a pipeline
    * RUNS; [[exactSubstringSpans]] stays the forensic report whose
    * output is the pair list itself. */
  def removeDuplicateSpansOwned(corpus: DataFrame, idCol: String,
      textCol: String, minLen: Int = 13): DataFrame = Settle.scope("removeDuplicateSpansOwned") { st =>
    // PERSISTED: the index feeds the ownership aggregate AND the
    // probe join back
    val grams = st.cache(positionalGrams(corpus, idCol, textCol, minLen))
    // gram ownership: the lexicographic-min (id, pos) occurrence; df=1
    // grams drop before the join (their only occurrence is the owner)
    val owners = grams.groupBy("gh")
      .agg(min(struct(col("id"), col("pos"))).as("own"),
        count(lit(1)).as("occ"))
      .filter(col("occ") > 1)
      .select(col("gh"), col("own"))
    val cuts = grams.join(owners, Seq("gh"))
      .filter(col("own.id") =!= col("id") || col("own.pos") =!= col("pos"))
      .select(col("id"), col("pos").as("ss"),
        (col("pos") + minLen).as("ee"), lit(1L).as("n"))
    // settle the merged per-doc interval table (doc-bounded rows, the
    // only consumer of the gram cache) so the result never reads the
    // cache — the rewrite output itself stays lazy: it carries the
    // full rewritten text and must not be double-materialized
    val ivs = st.settle(mergedIntervals(cuts), "intervals")
    applyCuts(corpus, idCol, textCol, ivs)
  }

  /** Per-doc merged cut-interval arrays (id, ivs) from a cut list
    * (id, ss, ee, n) — the cut intervals union through q63's
    * associative [[Intervals.merge]]; the rewrite tail of
    * [[removeDuplicateSpans]] and [[removeDuplicateSpansOwned]] with
    * [[applyCuts]]. */
  private def mergedIntervals(cuts: DataFrame): DataFrame =
    graft.operators.Intervals.merge(cuts, keyCol = "id")
      .groupBy("id")
      .agg(collect_list(struct(col("m_start").as("s"), col("m_end").as("e")))
        .as("ivs"))

  /** The in-row rewrite over a (id, ivs) interval table: one array
    * filter keeps the uncovered tokens in order. */
  private def applyCuts(corpus: DataFrame, idCol: String,
      textCol: String, ivs: DataFrame): DataFrame = {
    corpus
      .select(col(idCol).cast("long").as("id"),
        split(normText(col(textCol)), " ").as("ts"))
      .join(ivs, Seq("id"), "left")
      .select(col("id"), size(col("ts")).cast("long").as("n_tokens"),
        when(col("ivs").isNull, col("ts")).otherwise(expr(
          """filter(ts, (t, i) ->
            |  !exists(ivs, iv -> i >= iv.s AND i < iv.e))""".stripMargin))
          .as("kept"))
      .select(col("id"), col("n_tokens"),
        size(col("kept")).cast("long").as("n_kept"),
        (col("n_tokens") - size(col("kept"))).as("n_removed"),
        array_join(col("kept"), " ").as("kept_text"))
  }

  /** C4-style corpus-level exact line dedup (Raffel et al. 2020 dedup
    * "all but one of any three-sentence span"; here the caller chooses
    * the line/span segmentation): every distinct line survives only at
    * its FIRST occurrence — min (id, lineNo) across the whole corpus.
    *
    * Input: one row per doc with `linesCol: array<string>`. Output: one
    * row per (id, line_no, line) with a `keep` verdict.
    *
    * Scale shape: ownership is a groupBy on the line's md5 — only
    * (hash, id, line_no) triples shuffle, with map-side min partials;
    * the text itself moves once, in the hash-keyed equi-join that
    * fetches each line's owner (corpus-sized on both sides → plain
    * shuffle join, AQE-skew-splittable; never a broadcast). */
  def dedupLines(df: DataFrame, idCol: String, linesCol: String): DataFrame = {
    val ex = df.select(col(idCol),
      posexplode(col(linesCol)).as(Seq("line_no", "line")))
    val hashed = ex.withColumn("lh", md5(col("line")))
    val owners = hashed
      .groupBy("lh")
      .agg(min(struct(col(idCol), col("line_no"))).as("owner"))
    hashed.join(owners, Seq("lh"))
      .select(col(idCol), col("line_no"), col("line"),
        (col(idCol) === col(s"owner.$idCol") &&
          col("line_no") === col("owner.line_no")).as("keep"))
  }

  /** Blocked fuzzy (substitution-distance) string join: all (a, b)
    * pairs with hamming(aName, bName) ≤ `maxDist` and equal length.
    *
    * Blocking is the SimHash pigeonhole (simhashPairs' idiom applied
    * to raw strings): each name splits into `segments` fixed slices;
    * ≤ maxDist substitutions touch at most maxDist slices, so any
    * qualifying pair shares at least one exact (idx, slice) block when
    * segments > maxDist — block-join recall is provably 100%. General
    * edit distance (insert/delete) would need length-band +
    * deletion-neighborhood blocking instead; hamming is the contract
    * here.
    *
    * Scale shape: `segments` constant-size block keys per row shuffle
    * (never full pair enumeration), candidate (a_id, b_id) pairs are
    * distinct'd BEFORE the verify, and the verify is a per-pair
    * character scan. */
  def fuzzyHammingJoin(a: DataFrame, b: DataFrame,
      aId: String, aName: String, bId: String, bName: String,
      segments: Int = 3, maxDist: Int = 2): DataFrame = {
    require(segments > maxDist, "pigeonhole needs segments > maxDist")
    def blocks(name: String): Column = expr(
      s"""transform(sequence(0, ${segments - 1}), i -> struct(
         |  i AS idx,
         |  substring($name, cast(floor(i * length($name) / $segments) as int) + 1,
         |    cast(floor((i + 1) * length($name) / $segments) as int)
         |      - cast(floor(i * length($name) / $segments) as int)) AS seg))"""
        .stripMargin)
    val ab = a.select(col(aId).as("a_id"), col(aName).as("a_name"),
      explode(blocks(aName)).as("bk")).select(col("a_id"), col("a_name"),
      col("bk.idx").as("idx"), col("bk.seg").as("seg"))
    val bb = b.select(col(bId).as("b_id"), col(bName).as("b_name"),
      explode(blocks(bName)).as("bk")).select(col("b_id"), col("b_name"),
      col("bk.idx").as("idx"), col("bk.seg").as("seg"))
    ab.join(bb, Seq("idx", "seg"))
      .filter(length(col("a_name")) === length(col("b_name")))
      .select("a_id", "b_id", "a_name", "b_name").distinct()
      .withColumn("dist", expr(
        "size(filter(sequence(1, length(a_name)), " +
          "i -> substring(a_name, i, 1) <> substring(b_name, i, 1)))"))
      .filter(col("dist") <= maxDist)
      .select(col("a_id"), col("b_id"), col("dist"))
  }

  /** Blocked GENERAL edit-distance join (the extension
    * [[fuzzyHammingJoin]]'s doc promises): all (a, b) pairs with
    * levenshtein ≤ 1, via deletion-neighborhood blocking (the
    * SymSpell idiom). Each string's block keys are itself plus its
    * length 1-deletion variants; for edit distance ≤ 1 (one insert,
    * delete, OR substitute) the two strings provably share a key:
    * equal → the string itself; deletion → a's variant IS b;
    * insertion → b's variant IS a; substitution at position i → both
    * i-deletion variants coincide. Block-join recall is therefore
    * 100% — which is what the all-pairs oracle certifies.
    *
    * Scale shape: length+1 variant keys per row shuffle (content-
    * bounded, never pair enumeration); candidate id pairs are
    * distinct'd BEFORE the one levenshtein verify per pair (which
    * removes the false positives where different deletions collide at
    * distance 2); hot variant blocks split through [[blockPairs]]'
    * salting, so a mass-identical string set never lands its quadratic
    * pair enumeration on one task. */
  def editDistancePairs(df: DataFrame, idCol: String,
      strCol: String): DataFrame =
    editDistancePairs(df, idCol, strCol, CapBucket, MaxSalt)

  /** [[editDistancePairs]] under explicit salting bounds (DedupSkewSpec's
    * hook, as for [[minhashPairs]]). */
  private[graft] def editDistancePairs(df: DataFrame, idCol: String,
      strCol: String, cap: Int, maxSalt: Int): DataFrame = {
    val variants = expr(
      s"""array_union(
         |  array($strCol),
         |  transform(sequence(1, length($strCol)), i ->
         |    concat(substring($strCol, 1, i - 1),
         |      substring($strCol, i + 1, length($strCol)))))""".stripMargin)
    // The bucket key is xxhash64(vk) — a collision can only ADD a
    // candidate, which the levenshtein verify rejects, so recall is
    // untouched (the pigeonhole completeness argument lives on the
    // variant construction, not the key representation).
    val keyed = df.select(col(idCol).cast("long").as("id"),
        explode(variants).as("vk"))
      .select(col("id"), lit(0).as("band"), xxhash64(col("vk")).as("key"))
    val cand = blockPairs[Long, (Long, Long)](keyed, col("id"), identity,
      cap, maxSalt)((a, b) => Some((a, b))).toDF("id_a", "id_b").distinct()
    val names = df.select(col(idCol).cast("long").as("id"), col(strCol).as("name"))
    joinBack(cand, names, names)
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
      .filter(col("dist") <= 1)
      .select(col("id_a"), col("id_b"), col("dist").cast("long").as("dist"))
  }

  /** Benchmark decontamination: flag corpus documents sharing any
    * word `w`-gram with an evaluation set — the published long-n-gram
    * overlap rule (GPT-3 appendix C / Dolma use 13-grams) that keeps
    * eval answers out of training data.
    *
    * Returns the corpus id column plus `n_hits` (distinct eval w-grams
    * present in the doc) and `contaminated`.
    *
    * Scale shape: the eval side is small by nature (benchmarks are
    * MBs; the corpus is the 100 TB side), so its distinct w-gram hash
    * set builds in one aggregate and BROADCASTS; the corpus explodes
    * its w-grams map-side, hash-joins the broadcast set with no corpus
    * shuffle of text, and re-aggregates per doc on the id — w-gram
    * hashes (8 B) move, never text. */
  def decontaminate(corpus: DataFrame, evalDocs: DataFrame,
      idCol: String, textCol: String, w: Int = 13): DataFrame = {
    val evalGrams = evalDocs
      .select(explode(shingleHashes(col(textCol), w)).as("g")).distinct()
    val docGrams = corpus.select(col(idCol).as("id"),
      explode(shingleHashes(col(textCol), w)).as("g"))
    val hits = docGrams.join(broadcast(evalGrams), Seq("g"))
      .groupBy("id").agg(count(lit(1)).as("n_hits"))
    corpus.select(col(idCol).as("id"))
      .join(hits, Seq("id"), "left")
      .select(col("id"), coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)) > 0).as("contaminated"))
  }

  /** (doc_id, chunk digest) rows via the fused kernel — the shared
    * front half of [[cdcChunkStats]] and the S25 streaming dedup. */
  def cdcChunks(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val digests = Kernels.cdcChunkDigests(normText(col(textCol)))
    df.select(col(idCol).as("doc_id"), explode(digests).as("digest"))
  }

  /** Content-defined chunking (CDC) dedup statistics — the rsync/
    * FastCDC boundary idea as a corpus pass: chunk boundaries fall
    * where an 8-char polynomial window hash ≡ 0 (mod 64), so
    * boundaries are a function of CONTENT, not offsets — an edit near
    * one end re-chunks only its own neighborhood, and every untouched
    * chunk still dedups (fixed-width chunking loses ALL alignment
    * after one insertion; the spec pins exactly this contrast on the
    * suffix-perturbed copies). Per doc: chunk count, chunks shared
    * with ≥1 other doc, shared fraction.
    *
    * The boundary hash is a FIXED 8-term polynomial (no iteration, no
    * min/max chunk constraints) so both engines replay it exactly;
    * chunks travel as md5 digests — the gram-hash posture: digests
    * shuffle, text doesn't. The chunker is the fused one-pass kernel
    * [[graft.expressions.CdcChunkDigests]] (O(n) scan per doc,
    * chunk-count output — measured 6× over the per-position-explode
    * spelling, which survives only as the oracle's independent
    * replay). */
  def cdcChunkStats(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val chunks = cdcChunks(df, idCol, textCol)
    val occ = chunks.groupBy("digest")
      .agg(countDistinct("doc_id").as("n_docs"))
    chunks.join(occ, Seq("digest"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        count(when(col("n_docs") > 1, 1)).as("n_shared"))
      .select(col("doc_id"), col("n_chunks"), col("n_shared"),
        round(col("n_shared") / col("n_chunks"), 6).as("shared_frac"))
  }

  /** The k md5-derived bit positions of a digest column — shared by
    * the batch audit and the S28 streaming filter so both address the
    * SAME bit array. */
  private[graft] def bloomPositions(digest: Column, mBits: Int,
      kHash: Int): Column =
    array((0 until kHash).map(j =>
      pmod(conv(substring(md5(concat(lit(j + "|"), digest)),
        1, 15), 16, 10).cast("long"), lit(mBits.toLong))): _*)

  /** Per-doc verdicts + the min-setter bit table, computed once and
    * shared by [[bloomVerdicts]] and [[bloomDedupAudit]]. */
  private def bloomCore(corpus: DataFrame, idCol: String,
      textCol: String, srcCol: String, mBits: Int,
      kHash: Int): (DataFrame, DataFrame) = {
    val d = corpus.select(col(idCol).cast("long").as("id"),
      col(srcCol).as("source"), md5(normText(col(textCol))).as("digest"))
    val pos = d.select(col("id"),
      explode(bloomPositions(col("digest"), mBits, kHash)).as("pos"))
    val setters = pos.groupBy("pos").agg(min("id").as("first_id"))
    val flagged = pos.join(setters, Seq("pos"))
      .groupBy("id").agg(max("first_id").as("worst"))
      .select(col("id"), (col("worst") < col("id")).as("flagged"))
    val firstDg = d.groupBy("digest").agg(min("id").as("first_dup"))
    val verdicts = d.join(firstDg, Seq("digest"))
      .select(col("id"), col("source"),
        (col("first_dup") < col("id")).as("is_dup"))
      .join(flagged, Seq("id"))
    (verdicts, setters)
  }

  /** Per-doc half of [[bloomDedupAudit]]: (id, source, is_dup,
    * flagged) — the id-order sequential filter verdicts via the
    * min-setter identity, plus exact-dedup ground truth. Exposed so
    * the S28 streaming twin can prove trigger-fold equality
    * doc-for-doc, not just on the aggregate. */
  def bloomVerdicts(corpus: DataFrame, idCol: String, textCol: String,
      srcCol: String, mBits: Int, kHash: Int): DataFrame =
    bloomCore(corpus, idCol, textCol, srcCol, mBits, kHash)._1

  /** Bloom-filter incremental-dedup audit — the MEMORY-BOUNDED answer
    * to [[incrementalDedup]]'s growing digest index, with exact
    * false-positive accounting: replay the corpus in id order through
    * an `mBits`-bit Bloom filter (`kHash` md5-derived positions per
    * normalized-text digest), flag each doc whose bits were ALL set by
    * strictly-earlier docs, and score the flags against exact-dedup
    * ground truth. At 100 TB the exact digest index is itself a
    * multi-TB table; a Bloom filter is the fixed-budget alternative —
    * this operator is the sizing audit a pipeline runs BEFORE trusting
    * one (per-source false-positive rates = docs a bloom-gated dedup
    * would WRONGLY drop, plus the global fill fraction and the
    * (fill)^k predicted FPR to compare against the observed rate).
    *
    * Sequential-filter semantics WITHOUT a sequential pass: a bit's
    * state before doc d is "min id over docs touching it < d" — an
    * order-free min-aggregate identity (exact because a doc's own
    * insert cannot flag itself: min == d means d set the bit first).
    * Exact dups share the digest, hence the positions, so insert-all
    * equals insert-if-new and false NEGATIVES are structurally
    * impossible (the spec pins flagged ⊇ true-dup).
    *
    * Exactness: verdicts and counts are pure integer/boolean logic on
    * md5 values both engines compute identically; the three terminal
    * doubles derive through pinned int64→double casts and a fixed
    * left-assoc IEEE op order (the x38 device).
    *
    * Scale shape: only (id, pos) pairs — 16 B rows, k per doc —
    * shuffle (text never); one groupBy(pos) min with map-side
    * partials, one key-partitioned join back, one groupBy(id) max, a
    * digest min-aggregate for ground truth, a source-cardinality
    * summary, and the single bits_set scalar riding a broadcast 1-row
    * cross. */
  def bloomDedupAudit(corpus: DataFrame, idCol: String, textCol: String,
      srcCol: String, mBits: Int = 2048, kHash: Int = 3): DataFrame = {
    val (verdicts, setters) =
      bloomCore(corpus, idCol, textCol, srcCol, mBits, kHash)
    val perSrc = verdicts.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      count(when(col("is_dup"), 1)).as("n_true_dup"),
      count(when(col("flagged"), 1)).as("n_flagged"),
      count(when(col("flagged") && !col("is_dup"), 1)).as("n_false_pos"))
    val bits = setters.agg(count(lit(1)).as("bits_set"))
    val fill = col("bits_set").cast("double") / lit(mBits.toDouble)
    perSrc.crossJoin(broadcast(bits))
      .select(col("source"), col("n_docs"), col("n_true_dup"),
        col("n_flagged"), col("n_false_pos"),
        when(col("n_docs") > col("n_true_dup"),
          col("n_false_pos").cast("double") /
            (col("n_docs") - col("n_true_dup")).cast("double"))
          .as("false_pos_rate"),
        col("bits_set"), fill.as("fill_frac"),
        (1 until kHash).foldLeft(fill)((a, _) => a * fill).as("pred_fpr"))
      .orderBy("source")
  }
}
