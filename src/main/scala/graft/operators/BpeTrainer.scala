package graft.operators

import java.nio.charset.StandardCharsets

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Settle

/** Byte-pair-encoding tokenizer training on Spark — the vocabulary-
  * fitting pass of an LLM data pipeline (Sennrich et al. 2016).
  *
  * Shape: ONE corpus pass builds the (word, count) vocabulary table —
  * everything after iterates on that table, which is orders of
  * magnitude smaller than the corpus (the standard word-level BPE
  * trick). Two fit paths share identical semantics:
  *
  *  - [[fit]] (distributed): each merge round is a tiny aggregation
  *    (adjacent-pair counts weighted by word count) + a driver-side
  *    argmax (k·1 model state, the k-means precedent) + a map-only
  *    merge application. One Spark job PER MERGE — fine for a handful
  *    of merges, a driver-latency wall at a realistic 30k-merge
  *    vocabulary (30k sequential job schedulings dominate wall time
  *    regardless of cluster size).
  *  - [[fitLocal]] (production): collects the BOUNDED word-count
  *    table once and runs the whole merge loop driver-local with an
  *    incremental pair index + lazy max-heap, so per-merge cost is
  *    proportional to the words actually containing the merged pair —
  *    the same model-state-fits-on-the-driver precedent the repo's
  *    other fitted models use (DSIR weights, IVF centroids, k-means).
  *    The bound is principled: the distinct-WORD table grows
  *    sublinearly in corpus size (Heaps' law, V ≈ K·N^β with β ≈
  *    0.4–0.7 on natural text), so even a 100 TB corpus's vocabulary
  *    is tens-of-GB at worst and a `maxLocalVocab` cap guards the
  *    pathological (binary/noise) case by falling back to the
  *    distributed loop. Spec-proven merge-for-merge equal to [[fit]].
  *
  * Merge application semantics (BOTH paths): non-overlapping LEFTMOST
  * replacement per round (what a regex/replace-based implementation
  * does). For a run like "aaaaa" with merge (a,a) this can differ
  * from the strictly-sequential greedy scan — both are accepted BPE
  * variants; this one is chosen because it replays EXACTLY in SQL
  * `replace`, making the whole 5-round fit oracle-checkable.
  */
object BpeTrainer {

  private val Sep = "\u0001"

  /** (word, cnt) vocabulary from whitespace tokens. */
  def wordCounts(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(split(col(textCol), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("cnt"))

  /** Fit `nMerges` BPE merges distributedly (one Spark job per
    * merge), return the tokenized vocabulary:
    * (word, cnt, n_tokens, tokens) — plus the learned merge list via
    * the second element. Stops early (shorter merge list) if the
    * vocabulary runs out of adjacent pairs before `nMerges`. */
  def fit(docs: DataFrame, textCol: String,
      nMerges: Int = 5): (DataFrame, Seq[(Int, String, String, Long)]) = Settle.scope("bpeFit") { st =>
    var vocab = st.cache(wordCounts(docs, textCol)
      .withColumn("sym",
        concat(lit(Sep), concat_ws(Sep, split(col("word"), "")), lit(Sep))))
    vocab.count()
    val merges = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, String, Long)]
    var exhausted = false
    for (it <- 1 to nMerges if !exhausted) {
      val top = vocab
        .withColumn("ws", expr(s"filter(split(sym, '$Sep'), x -> x <> '')"))
        .filter(size(col("ws")) >= 2)
        .withColumn("i", explode(expr("sequence(1, size(ws) - 1)")))
        .select(expr("element_at(ws, i)").as("l"),
          expr("element_at(ws, i + 1)").as("r"), col("cnt"))
        .groupBy("l", "r").agg(sum("cnt").as("c"))
        .orderBy(col("c").desc, col("l"), col("r"))
        .limit(1).collect().headOption
      top match {
        case None => exhausted = true // every word is a single token
        case Some(row) =>
          val (l, r, c) =
            (row.getString(0), row.getString(1), row.getLong(2))
          merges += ((it, l, r, c))
          val applied = vocab.withColumn("sym",
            expr(s"replace(sym, '$Sep$l$Sep$r$Sep', '$Sep$l$r$Sep')"))
          // TRUNCATE the lineage every round (eager settle, which
          // also materializes the round like the old persist+count):
          // chaining each merge over the previous round's cached plan
          // nests InMemoryRelation trees — Spark's per-job plan-string
          // rendering walks that nest super-linearly, so by ~20 rounds
          // the driver spends minutes (then OOMs) printing plans, not
          // computing — and even a flat LOGICAL re-root leaves an RDD
          // chain that overflows the task-serialization stack by ~50
          // rounds. The scope releases superseded rounds on return.
          vocab = st.settle(applied, s"merge-$it")
      }
    }
    val out = vocab
      .withColumn("toks", expr(s"filter(split(sym, '$Sep'), x -> x <> '')"))
      .select(col("word"), col("cnt"),
        size(col("toks")).as("n_tokens"),
        concat_ws(" ", col("toks")).as("tokens"))
    (out, merges.toSeq)
  }

  // ---- driver-local merge loop (shared kernel) -----------------------------

  /** Unsigned UTF-8 byte comparison — Spark's UTF8String ordering, so
    * the local argmax tie-break (`orderBy(c desc, l, r)`) matches the
    * distributed one exactly (Java's String.compareTo orders by
    * UTF-16 code unit, which DIVERGES from UTF-8 byte order for
    * supplementary characters vs U+E000..U+FFFF). */
  private def utf8Cmp(a: String, b: String): Int = {
    val x = a.getBytes(StandardCharsets.UTF_8)
    val y = b.getBytes(StandardCharsets.UTF_8)
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    x.length - y.length
  }

  /** Word → per-code-point symbol array (what `split(word, '')` gives
    * the distributed fit: empty-regex split never splits a surrogate
    * pair). */
  private def codePointToks(w: String): Array[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < w.length) {
      val n = Character.charCount(w.codePointAt(i))
      out += w.substring(i, i + n)
      i += n
    }
    out.toArray
  }

  /** Apply one merge round to a token array with the EXACT semantics
    * of `replace(sym, ·l·r·, ·lr·)` on the separator-delimited
    * string: leftmost non-overlapping, and because a match consumes
    * the separator AFTER the merged pair, the immediately following
    * token can never START the next match of the same round (the
    * documented "aaaaa" deviation from a sequential greedy scan). */
  private[operators] def mergeTokens(t: Array[String], l: String,
      r: String): Array[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < t.length) {
      if (i + 1 < t.length && t(i) == l && t(i + 1) == r) {
        out += (l + r)
        if (i + 2 < t.length) out += t(i + 2)
        i += 3
      } else { out += t(i); i += 1 }
    }
    out.toArray
  }

  /** The local merge loop over a collected (word, cnt) table.
    * Incremental: a pair→words occurrence index plus a lazy-deletion
    * max-heap keyed (count, then smallest (l,r) in UTF-8 order) makes
    * each merge cost proportional to the words that actually CONTAIN
    * the winning pair — per-merge work is o(vocab) after the first
    * few rounds, so a 30k-merge fit is heap pops + touched-word
    * rewrites, not 30k full vocabulary scans (and not 30k Spark
    * jobs). Exposed package-private for the equality spec. */
  private[operators] def localMergeLoop(words: Array[String],
      cnts: Array[Long], nMerges: Int)
      : (Array[Array[String]], Seq[(Int, String, String, Long)]) = {
    val toks: Array[Array[String]] = words.map(codePointToks)
    val pc = mutable.HashMap.empty[(String, String), Long]
    val occ = mutable.HashMap.empty[(String, String), mutable.ArrayBuffer[Int]]
    // heap orders by count, ties by SMALLEST (l,r) popping first
    val ord = new Ordering[(Long, String, String)] {
      def compare(p: (Long, String, String), q: (Long, String, String)): Int = {
        val c = java.lang.Long.compare(p._1, q._1)
        if (c != 0) c
        else {
          val cl = utf8Cmp(p._2, q._2)
          if (cl != 0) -cl else -utf8Cmp(p._3, q._3)
        }
      }
    }
    val heap = mutable.PriorityQueue.empty[(Long, String, String)](ord)
    def addWordPairs(wi: Int, ts: Array[String]): Unit = {
      val seen = mutable.HashSet.empty[(String, String)]
      var j = 0
      while (j + 1 < ts.length) {
        val p = (ts(j), ts(j + 1))
        pc.update(p, pc.getOrElse(p, 0L) + cnts(wi))
        if (seen.add(p)) occ.getOrElseUpdate(p, mutable.ArrayBuffer.empty) += wi
        j += 1
      }
    }
    var wi = 0
    while (wi < toks.length) { addWordPairs(wi, toks(wi)); wi += 1 }
    pc.foreach { case ((l, r), c) => heap.enqueue((c, l, r)) }

    val merges = mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var it = 1
    var exhausted = false
    while (it <= nMerges && !exhausted) {
      // lazy-deletion pop: drop entries whose count is stale
      var top: Option[(Long, String, String)] = None
      while (top.isEmpty && heap.nonEmpty) {
        val cand = heap.dequeue()
        if (pc.getOrElse((cand._2, cand._3), 0L) == cand._1) top = Some(cand)
      }
      top match {
        case None => exhausted = true
        case Some((c, l, r)) =>
          merges += ((it, l, r, c))
          val touched = mutable.HashSet.empty[(String, String)]
          val ws = occ.getOrElse((l, r), mutable.ArrayBuffer.empty)
            .distinct // a word can re-enter the index across rebuilds
          for (w <- ws) {
            val old = toks(w)
            // stale index entry: the word may no longer hold the pair
            var has = false
            var j = 0
            while (!has && j + 1 < old.length) {
              has = old(j) == l && old(j + 1) == r; j += 1
            }
            if (has) {
              val neu = mergeTokens(old, l, r)
              // multiset delta of adjacent pairs, weighted by cnt(w)
              val delta = mutable.HashMap.empty[(String, String), Long]
              j = 0
              while (j + 1 < old.length) {
                val p = (old(j), old(j + 1))
                delta.update(p, delta.getOrElse(p, 0L) - cnts(w))
                j += 1
              }
              val fresh = mutable.HashSet.empty[(String, String)]
              j = 0
              while (j + 1 < neu.length) {
                val p = (neu(j), neu(j + 1))
                delta.update(p, delta.getOrElse(p, 0L) + cnts(w))
                fresh += p
                j += 1
              }
              delta.foreach { case (p, d) =>
                if (d != 0L) {
                  val v = pc.getOrElse(p, 0L) + d
                  if (v <= 0L) pc.remove(p) else pc.update(p, v)
                  touched += p
                }
              }
              // index the word under its NEW pairs (old entries go
              // stale and are skipped lazily)
              fresh.foreach { p =>
                occ.getOrElseUpdate(p, mutable.ArrayBuffer.empty) += w
              }
              toks(w) = neu
            }
          }
          touched.foreach { p =>
            pc.get(p).foreach(v => heap.enqueue((v, p._1, p._2)))
          }
          it += 1
      }
    }
    (toks, merges.toSeq)
  }

  /** Default driver-side vocabulary cap for [[fitLocal]]: 20M distinct
    * words × ~100 B/entry ≈ 2 GB of driver heap — comfortably inside
    * a production driver, far above any natural-language corpus's
    * vocabulary at the SFs this library targets (Heaps' law). */
  val DefaultMaxLocalVocab: Long = 20_000_000L

  /** Production fit: ONE corpus pass for the (word, cnt) table, then
    * the whole merge loop driver-local (see [[localMergeLoop]]), so
    * wall time is flat in `nMerges` instead of one sequential Spark
    * job per merge. Falls back to the distributed [[fit]] when the
    * vocabulary exceeds `maxLocalVocab` (binary/noise corpora where
    * Heaps' law fails). Merge-for-merge equal to [[fit]] by spec. */
  def fitLocal(docs: DataFrame, textCol: String, nMerges: Int = 5,
      maxLocalVocab: Long = DefaultMaxLocalVocab)
      : (DataFrame, Seq[(Int, String, String, Long)]) = Settle.scope("bpeFitLocal") { st =>
    val spark = docs.sparkSession
    val wc = st.cache(wordCounts(docs, textCol))
    if (wc.count() > maxLocalVocab) fit(docs, textCol, nMerges)
    else {
      val rows = wc.collect()
      val words = rows.map(_.getString(0))
      val cnts = rows.map(_.getLong(1))
      val (toks, merges) = localMergeLoop(words, cnts, nMerges)
      val out = words.indices.map { i =>
        (words(i), cnts(i), toks(i).length, toks(i).mkString(" "))
      }
      val sc = spark.sparkContext
      val df = spark.createDataFrame(
        sc.parallelize(out, math.max(1,
          math.min(sc.defaultParallelism, out.length / 4096 + 1))))
        .toDF("word", "cnt", "n_tokens", "tokens")
      (df, merges)
    }
  }

  /** Encode the corpus with a fitted tokenizer: per-doc whitespace
    * word count and total BPE token count. The expensive merge
    * application ran ONCE per distinct word inside the fit ([[
    * fitLocal]], falling back to [[fit]] past the vocab cap) —
    * encoding is a word-keyed join of the corpus's exploded words
    * against that vocabulary (vocab ≪ corpus; AQE broadcasts it when
    * it fits) plus an integer sum, so the per-doc pass is explode →
    * join → agg with no string surgery. Integer counts sum
    * order-free — the oracle replays exactly at any partitioning. */
  def encode(docs: DataFrame, idCol: String, textCol: String,
      nMerges: Int = 5): DataFrame = {
    val vocab = fitLocal(docs, textCol, nMerges)._1.select("word", "n_tokens")
    docs.select(col(idCol).as("id"),
        explode(split(col(textCol), " ")).as("word"))
      .filter(col("word") =!= "")
      .join(vocab, Seq("word"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_tokens").cast("long")).as("n_bpe_tokens"))
  }
}
