package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.Settle

/** Text-analysis operators for training-data curation: language ID,
  * quality scoring, token counting, fingerprinting. All pure Column
  * expressions (codegen'd, one scan, no shuffle). */
object TextAnalysis {

  /** Per-language stopword profiles for the n-gram/stopword heuristic
    * language detector. Deliberately tiny: langid at scale is a
    * cheap first-pass filter, not a classifier. Canonical list (with
    * tie-break order) lives in TextHashKernels.langProfiles, shared
    * with the fused kernel. */
  val stopwords: Map[String, Seq[String]] =
    graft.expressions.TextHashKernels.langProfiles.toMap

  def tokens(text: Column): Column = split(Dedup.normText(text), " ")

  /** Stopword-hit score for one language profile: hits / n_tokens.
    * Takes pre-tokenized input so one tokenization feeds all profiles. */
  def langScoreFromToks(toks: Column, lang: String): Column =
    size(filter(toks, t => t.isin(stopwords(lang).map(lit(_).cast("string")): _*))) /
      greatest(size(toks), lit(1)).cast("double")

  def langScore(text: Column, lang: String): Column =
    langScoreFromToks(tokens(text), lang)

  /** Heuristic language ID: CJK character ratio → zh; otherwise argmax
    * of stopword profiles with deterministic tie-break order.
    * Pass the SAME materialized `toks` column used elsewhere in the
    * query to avoid re-tokenizing per profile (HOFs see no CSE). */
  def langIdFromToks(text: Column, toks: Column): Column = {
    val cjk = length(regexp_replace(text, "[^\\u4e00-\\u9fff]", "")) /
      greatest(length(text), lit(1)).cast("double")
    val scores = Seq("en", "de", "es", "fr").map(l => (l, langScoreFromToks(toks, l)))
    val best = scores.tail.foldLeft(
      struct(scores.head._2.as("s"), lit(scores.head._1).as("l"))) {
      case (acc, (l, sc)) =>
        when(sc > acc.getField("s"), struct(sc.as("s"), lit(l).as("l"))).otherwise(acc)
    }
    when(cjk > 0.3, "zh")
      .when(best.getField("s") > 0.0, best.getField("l"))
      .otherwise("und")
  }

  /** Fused one-pass language ID (graft.expressions.TextHashKernels.langId)
    * — same arithmetic as [[langIdFromToks]], compiled. */
  def langId(text: Column): Column =
    graft.expressions.Kernels.langId(text, Dedup.normText(text))

  /** Quality features: lengths, token stats, punctuation/alpha/stopword
    * ratios, and a composite [0,1] score (heuristic curation signal). */
  def qualityColumns(text: Column): Seq[Column] = {
    val toks = tokens(text)
    val nTok = size(toks).cast("double")
    val nChar = length(text).cast("double")
    val punct = (nChar - length(regexp_replace(text, "[.,!?;:]", ""))).cast("double")
    val alpha = length(regexp_replace(text, "[^A-Za-z]", "")).cast("double")
    val stop = size(filter(toks,
      t => t.isin(stopwords("en").map(lit(_).cast("string")): _*))).cast("double")
    val meanWord = (nChar - (nTok - 1)) / greatest(nTok, lit(1.0))
    val score =
      least(nTok / 100.0, lit(1.0)) * 0.4 +
        (alpha / greatest(nChar, lit(1.0))) * 0.4 +
        least(stop / greatest(nTok, lit(1.0)) * 5.0, lit(1.0)) * 0.2
    Seq(nTok.cast("long").as("n_tokens"), punct.cast("long").as("n_punct"),
      (alpha / greatest(nChar, lit(1.0))).as("alpha_ratio"),
      (stop / greatest(nTok, lit(1.0))).as("stopword_ratio"),
      meanWord.as("mean_word_len"), score.as("quality_score"))
  }

  /** The eight Gopher stop words (Rae et al. 2021 §A1.1): a document
    * must contain at least two to pass the stop-word rule. */
  val gopherStops: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Full Gopher quality-filter rule set (Rae et al. 2021 §A1.1),
    * one shuffle-free map pass: word-count bounds, mean word length,
    * symbol-to-word ratio (# and ...), bullet-/ellipsis-line
    * fractions, alpha-word fraction, stop-word presence — each as a
    * signal column + boolean rule verdict, plus the conjunction.
    * `aw` = whitespace tokens of `mtext`, `lines` = its lines (staged
    * by the caller so interpreted HOF lambdas never re-evaluate the
    * splits per element). All ratios are single divisions of exact
    * integer counts — bit-reproducible cross-engine. */
  def gopherColumns(mtext: Column, aw: Column, lines: Column): Seq[Column] = {
    val nW = size(aw).cast("long")
    val nWd = size(aw).cast("double")
    val meanWL = aggregate(transform(aw, w => length(w)), lit(0),
      (a, x) => a + x).cast("double") / nWd
    val nHash = (length(mtext) - length(regexp_replace(mtext, "#", "")))
      .cast("double")
    val nEll = (length(mtext) - length(regexp_replace(mtext, "\\.\\.\\.", ""))) / 3
    val symRatio = (nHash + nEll) / nWd
    val nLines = size(lines).cast("double")
    val fBullet = size(filter(lines, l => l.like("- %"))).cast("double") / nLines
    val fEll = size(filter(lines, l => l.like("%..."))).cast("double") / nLines
    val fAlpha = size(filter(aw, w => w.rlike("[A-Za-z]"))).cast("double") / nWd
    val nStop = size(filter(array(gopherStops.map(lit(_)): _*),
      sw => array_contains(aw, sw))).cast("long")
    val rWc = nW.between(50L, 100000L)
    val rMwl = meanWL.between(3.0, 10.0)
    val rSym = symRatio <= 0.1
    val rBullet = fBullet <= 0.9
    val rEll = fEll <= 0.3
    val rAlpha = fAlpha >= 0.8
    val rStop = nStop >= 2L
    Seq(nW.as("n_words"), meanWL.as("mean_word_len"),
      symRatio.as("symbol_ratio"), fBullet.as("frac_bullet_lines"),
      fEll.as("frac_ellipsis_lines"), fAlpha.as("frac_alpha_words"),
      nStop.as("n_stop"),
      rWc.as("r_word_count"), rMwl.as("r_mean_word_len"),
      rSym.as("r_symbol"), rBullet.as("r_bullet"), rEll.as("r_ellipsis"),
      rAlpha.as("r_alpha"), rStop.as("r_stop"),
      (rWc && rMwl && rSym && rBullet && rEll && rAlpha && rStop).as("keep"))
  }

  /** Whitespace token count. */
  def wsTokenCount(text: Column): Column = size(split(trim(text), "\\s+"))

  /** BPE-ish token count: word / number / single-symbol pieces — the
    * standard pre-tokenizer regex family, countable without a
    * vocabulary. */
  def bpeishTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0)))

  /** Token-window chunking with overlap — the standard pretraining/RAG
    * document splitter. Whitespace tokens (case-preserving); chunk i
    * covers tokens [i·step, i·step + size); the last chunk may be
    * short. Returns one row per chunk via posexplode; all array work is
    * staged on a token ATTRIBUTE (HOF staging rule). */
  def chunkColumns(textAttr: Column, chunkSize: Int, overlap: Int): Column = {
    require(overlap < chunkSize, "overlap must be < chunkSize")
    val step = chunkSize - overlap
    val toks = textAttr // expects a pre-staged token array attribute
    val nChunks = (lit(1) +
      ceil(greatest(size(toks) - chunkSize, lit(0)).cast("double") / step)
        .cast("int"))
    transform(sequence(lit(0), nChunks - 1),
      i => array_join(slice(toks, i * step + 1, lit(chunkSize)), " "))
  }

  /** PII redaction: mask emails / long digit runs / phone-ish patterns.
    * Pure regexp_replace chain — codegen'd, one pass. */
  def redact(text: Column): Column = {
    val email = regexp_replace(text,
      "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>")
    val phone = regexp_replace(email,
      "\\+?[0-9][0-9 ()-]{7,}[0-9]", "<PHONE>")
    regexp_replace(phone, "[0-9]{6,}", "<NUM>")
  }

  /** HTML → visible text (the web-corpus extraction step that runs
    * BEFORE every text filter — trafilatura/jusText-lite): drop
    * script/style blocks, strip tags, decode the five standard
    * entities (&amp; deliberately LAST — the single-pass rule, so
    * "&amp;lt;" yields the literal "&lt;"), collapse whitespace. Pure
    * regexp_replace chain — codegen'd, one pass, and every pattern is
    * Java/RE2-agreeing so DuckDB replays it rule for rule (DuckDB
    * needs the explicit 'g' flag; Spark is global by default). */
  def htmlVisible(text: Column): Column = {
    val noScript = regexp_replace(text, "<script[^>]*>.*?</script>", " ")
    val noStyle = regexp_replace(noScript, "<style[^>]*>.*?</style>", " ")
    val noTags = regexp_replace(noStyle, "<[^>]*>", " ")
    val e1 = regexp_replace(noTags, "&lt;", "<")
    val e2 = regexp_replace(e1, "&gt;", ">")
    val e3 = regexp_replace(e2, "&quot;", "\"")
    val e4 = regexp_replace(e3, "&#39;", "'")
    val e5 = regexp_replace(e4, "&amp;", "&")
    trim(regexp_replace(e5, "\\s+", " "))
  }

  /** Total characters of anchor (<a>) inner text — the numerator of
    * link density, THE boilerplate signal (nav/footer link farms have
    * high link density, body prose low). */
  def linkChars(text: Column): Column =
    aggregate(
      transform(regexp_extract_all(text, lit("<a [^>]*>(.*?)</a>"), lit(1)),
        t => length(t)),
      lit(0), (acc, x) => acc + x)

  /** Count of HTML tags in the raw markup. */
  def tagCount(text: Column): Column =
    size(regexp_extract_all(text, lit("<[^>]*>"), lit(0)))

  /** Deterministic train/val/test assignment: bucket 0-99 from the id's
    * md5 prefix (stable across runs, engines, and cluster layouts —
    * unlike `df.randomSplit`, re-runs and backfills land every row in
    * the same split). Fractions are cumulative percentages. */
  /** All URL host names in a text, lowercased (C4/RefinedWeb-style
    * domain analysis: the per-domain corpus census drives blocklists,
    * quota caps, and quality priors). Codegen'd regexp_extract_all; the
    * simple character-class pattern means Java and RE2 (DuckDB) agree
    * byte for byte. */
  def urlDomains(text: Column): Column =
    array_distinct(regexp_extract_all(lower(text),
      lit("https?://([a-z0-9.-]+)"), lit(1)))

  def splitBucket(id: Column): Column =
    (conv(substring(md5(id.cast("string")), 1, 4), 16, 10).cast("long") % 100)
      .cast("int")

  def splitAssign(id: Column, trainPct: Int = 80, valPct: Int = 10): Column = {
    val b = splitBucket(id)
    when(b < trainPct, "train")
      .when(b < trainPct + valPct, "val")
      .otherwise("test")
  }

  /** 60-bit content fingerprint of the normalized text: the first 15
    * hex chars of its md5, as a bigint. md5 (not xxhash64) so the value
    * is reproducible in the DuckDB oracle; 15 chars keeps it positive
    * in a signed 64-bit lane on any engine. */
  def fingerprint(text: Column): Column =
    conv(substring(md5(Dedup.normText(text)), 1, 15), 16, 10).cast("long")

  /** Winnowing-style robust fingerprint: minimum shingle hash — stable
    * under small edits (the min 3-word shingle usually survives). One
    * fused compiled pass (see [[graft.expressions.ShingleMinMd5]]). */
  def minShingleFingerprint(text: Column, w: Int = 3): Column =
    graft.expressions.Kernels.shingleMinMd5(Dedup.normText(text), w)

  /** Character-distribution Shannon entropy term sum as exact 1e-9
    * integer "nanos" — one fused compiled pass per doc (see
    * [[graft.expressions.TextEntropyNanos]]); order 1 = code points,
    * order 2 = code-point bigrams. Bits derive as
    * nanos / -1e9 / ln2-literal (two pinned IEEE ops). */
  def entropyNanos(text: Column, order: Int): Column =
    graft.expressions.Kernels.textEntropyNanos(text, order)

  /** Repetition-based quality signals, after the published Gopher
    * repetition rules (Rae et al. 2021, table A1) re-based on word
    * tokens: the fraction of token positions held by the single most
    * frequent token / bigram, and the fraction of 5-gram positions
    * whose 5-gram occurs more than once. High values mark boilerplate,
    * keyword stuffing, and generation loops — the documents a
    * pretraining pipeline drops first.
    *
    * Returns (id, n_tok, top_tok_frac, top_bigram_frac,
    * dup_5gram_frac, repetitive).
    *
    * Scale shape: per-document statistics never leave the row — ONE
    * compiled pass ([[graft.expressions.RepetitionKernel]]) counts
    * tokens, mode token, mode bigram, and duplicate 5-grams in
    * O(n_tok) per row with memory bounded by the document, so the
    * whole operator is a shuffle-free projection (the previous
    * explode → groupBy(doc, gram) → groupBy(doc) → join-back chain
    * shuffled ~2× the corpus token count). */
  /** Unigram language-model perplexity per document — the CCNet-style
    * quality signal (Wenzek et al. 2020 filter corpora by LM
    * perplexity; a unigram model is its cheapest honest form, and the
    * plumbing — vocab fit, broadcast, per-token score, per-doc reduce
    * — is exactly what a KenLM-scale model needs).
    *
    * Model: p(t) = count(t)/total over the corpus itself; tokens
    * outside the top-`vocabSize` by count (ties: token asc) score the
    * floor p = 0.5/total. Emits `ln_ppl` = −mean_t ln p(t) — the
    * cross-entropy in nats/token, i.e. ln of CCNet's perplexity.
    * Log-domain is the GATE-SAFE form: a terminal exp is the one
    * transcendental whose cross-engine ulp difference survives 6-dp
    * rounding once ppl grows large (the len_k10 axis caught exactly
    * that — ppl ≈ 1.8e6 put libm's last ulp ON the rounding grid),
    * while −Σlp/n is one IEEE division of an exact decimal sum.
    * Thresholding on ln_ppl is the same filter (monotone bijection).
    *
    * Determinism at any partitioning: per-token ln p is rounded to 9
    * decimals and summed as DECIMAL(18,9) — an EXACT, order-free sum
    * (the dsum pattern) — so the per-doc mean never depends on shuffle
    * order on either engine.
    *
    * Scale shape: token explode feeds a map-side-combined count (one
    * shuffle of distinct (partition, token) partials); the top-V vocab
    * is a TakeOrdered broadcast; scoring is explode ⨝ broadcast(vocab)
    * re-aggregated by doc — partials combine map-side, so the doc agg
    * shuffles ~one row per doc, not per token. */
  def unigramPerplexity(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, vocabSize: Int): org.apache.spark.sql.DataFrame = {
    val toks = df.select(col(idCol).as("id"), tokens(col(textCol)).as("toks"))
    val tok = toks.select(col("id"), explode(col("toks")).as("tok"))
    val counts = tok.groupBy("tok").agg(count(lit(1)).as("cnt"))
    val stats = counts.agg(sum(col("cnt")).as("total"))
    val vocab = counts
      .orderBy(col("cnt").desc, col("tok"))
      .limit(vocabSize)
    val scored = tok
      .join(broadcast(vocab), Seq("tok"), "left")
      .crossJoin(broadcast(stats))
      .withColumn("p",
        coalesce(col("cnt").cast("double"), lit(0.5)) / col("total"))
      .withColumn("lp", round(log(col("p")), 9).cast("decimal(18,9)"))
    scored.groupBy("id")
      .agg(count(lit(1)).as("n_tok"), sum(col("lp")).as("slp"))
      .select(col("id"), col("n_tok"),
        round(-(col("slp").cast("double") / col("n_tok")), 6).as("ln_ppl"))
  }

  /** Jelinek-Mercer interpolated bigram LM perplexity — the next
    * fidelity step past [[unigramPerplexity]]'s CCNet filter:
    * p(w2|w1) = λ·c(w1,w2)/c(w1) + (1−λ)·p_uni(w2), with the bigram
    * term live only for the top-`biVocab` bigram table (pruned-model
    * reality at web scale) and p_uni carrying x13's 0.5 OOV floor over
    * the top-`uniVocab` unigram table.
    *
    * Scale shape: both model tables are bounded-size corpus aggregates
    * with deterministic (count desc, key) cuts, BROADCAST back; the
    * per-doc pass is explode → two broadcast left joins → map. Per-doc
    * log-probs sum as 9-decimal DECIMALs — order-free, so the oracle
    * replays them exactly regardless of partitioning. */
  def bigramPerplexity(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, uniVocab: Int, biVocab: Int,
      lambda: Double = 0.75): org.apache.spark.sql.DataFrame = {
    val toks = df.select(col(idCol).as("id"), tokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) >= 2)
    // model statistics use the whole corpus, including 1-token docs
    val ucnt = df.select(explode(tokens(col(textCol))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
    val total = ucnt.agg(sum("cnt").as("t"))
    val uvocab = ucnt.orderBy(col("cnt").desc, col("tok")).limit(uniVocab)
    val big = toks.select(col("id"), explode(expr(
        "zip_with(slice(toks, 1, size(toks)-1), slice(toks, 2, size(toks)-1), " +
          "(a, b) -> struct(a AS w1, b AS w2))")).as("bg"))
      .select(col("id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val bcnt = big.groupBy("w1", "w2").agg(count(lit(1)).as("bcnt"))
    // c(w1) attaches BEFORE the top-B cut (token-keyed join of two
    // aggregates); only the cut result broadcasts
    val bvocab = bcnt
      .join(ucnt.select(col("tok").as("w1"), col("cnt").as("c1")), Seq("w1"))
      .orderBy(col("bcnt").desc, col("w1"), col("w2")).limit(biVocab)
    val pBig = when(col("bcnt").isNotNull,
      col("bcnt").cast("double") / col("c1").cast("double")).otherwise(0.0)
    val pUni = coalesce(col("cnt").cast("double"), lit(0.5)) / col("t")
    big.join(broadcast(bvocab), Seq("w1", "w2"), "left")
      .join(broadcast(uvocab.select(col("tok").as("w2"), col("cnt"))),
        Seq("w2"), "left")
      .crossJoin(broadcast(total))
      .withColumn("lp",
        round(log(lit(lambda) * pBig + lit(1 - lambda) * pUni), 9)
          .cast("decimal(18,9)"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_bi"), sum("lp").as("slp"))
      .select(col("id"), col("n_bi"),
        round(-(col("slp").cast("double") / col("n_bi")), 6).as("ln_ppl"))
  }

  /** Winnowing fingerprint selection (Schleimer, Wilkerson & Aiken,
    * SIGMOD 2003 — the MOSS algorithm): from each sliding window of
    * `w` consecutive k-gram hashes select the RIGHTMOST minimal hash
    * (the paper's robust-winnowing rule), then dedupe (pos, hash)
    * pairs. The LOCAL fingerprinting x4 lacks: x4's whole-doc and
    * min-shingle prints break under any partial overlap, while
    * winnowing GUARANTEES any shared run of w+k−1 tokens contributes
    * at least one common fingerprint (every window selects), at
    * expected density 2/(w+1) — the partial-plagiarism /
    * quote-detection primitive.
    *
    * Determinism: gram hashes are md5-prefix integers (engine-
    * reproducible by construction); rightmost-on-ties falls out of
    * struct ordering — each position carries `(hash, −pos)`, so the
    * per-window `array_min` picks the smallest hash and, among ties,
    * the LARGEST position; everything is integers. Docs shorter than
    * k+w−1 tokens have no window and emit nothing (pinned).
    *
    * Scale shape: grams, hashes, and window selections all fold
    * WITHIN the row via array HOFs (the x39 device) — the only
    * corpus-sized materialization is the final selected-fingerprint
    * explode, which IS the output. No shuffle before the sort. The
    * `(hash, −pos)` array is bound ONCE per row as a lambda variable
    * (`transform(array(e), v => …)[0]`): a plain column reference
    * inside the window lambdas would let CollapseProject inline the
    * whole md5-array build into every reference site — O(n·w) full
    * rebuilds per row, the difference between seconds and 10 minutes
    * at sf0.1. */
  def winnow(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, k: Int = 4, w: Int = 5): org.apache.spark.sql.DataFrame = {
    val base = df.select(col(idCol).as("id"), tokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) >= k + w - 1)
    // hp[i] = (hash of gram at i, −i): md5-prefix integer + negated
    // position, so min-by-struct = smallest hash, ties → rightmost.
    val hp = transform(
      sequence(lit(0L), (size(col("toks")) - k).cast("long")),
      i => struct(
        conv(substring(md5(concat_ws(" ",
          slice(col("toks"), (i + 1).cast("int"), lit(k)))), 1, 15),
          16, 10).cast("long").as("h"),
        (-i).as("negp")))
    // dedup by ADJACENT comparison, not array_distinct: a given
    // element is the minimum of a CONTIGUOUS range of windows (if
    // window s and s+2 both select p but s+1 selects q, then q
    // entered at s+1's right edge and stays in s+2, beating p —
    // contradiction), so equal selections are always consecutive and
    // keep-if-≠-previous ≡ distinct. array_distinct on STRUCT
    // elements has no hash path in Spark — O(selections²) pairwise
    // scans per row, measured α=1.4 on the r12 length axis; this
    // filter is one O(1)-per-element pass (greatest() keeps the
    // i=0 probe inside ANSI's 1-based element_at domain).
    val sel = element_at(transform(array(hp), a => {
      val raw = transform(
        sequence(lit(0L), (size(a) - w).cast("long")),
        s => array_min(slice(a, (s + 1).cast("int"), lit(w))))
      element_at(transform(array(raw), ss =>
        filter(ss, (x, i) =>
          (i === lit(0)) || (x =!= element_at(ss, greatest(i, lit(1)))))), 1)
    }), 1)
    // no terminal orderBy (r14): row order is not part of the
    // operator's contract (the x44 query applies its own final sort;
    // the streaming consumer immediately distincts), and a sort here
    // made every consumer's range-sampling re-evaluate the expensive
    // HOF selection an extra time
    base.select(col("id"), explode(sel).as("s"))
      .select(col("id"), (-col("s.negp")).as("pos"), col("s.h").as("fp"))
  }

  /** Stoplist for RAKE phrase splitting — pinned here (and
    * interpolated verbatim into the x45 oracle) so both engines split
    * identically. Deliberately small: RAKE degrades gracefully with a
    * thin stoplist (phrases get longer), and the operator's contract
    * is the scoring machinery, not lexicography. */
  val rakeStopwords: Seq[String] = Seq(
    "the", "and", "of", "to", "in", "is", "are", "was", "were", "a",
    "an", "that", "it", "for", "on", "with", "as", "this", "by", "at",
    "from", "or", "be", "has", "have", "had", "not", "but", "they",
    "their", "its", "we", "you", "he", "she", "his", "her", "will",
    "would", "can", "could", "than", "then", "so", "if", "into",
    "about", "over", "after", "all", "also", "been", "more", "no",
    "which", "when", "who", "what", "one", "two", "there", "these",
    "those", "such", "some", "any", "each", "other", "do", "does",
    "did", "how", "why", "where", "most", "many", "much", "very")

  /** RAKE keyword extraction (Rose, Engel, Cramer & Cowley 2010 —
    * Rapid Automatic Keyword Extraction): candidate phrases are the
    * maximal runs of non-delimiter tokens (delimiter ⇔ stoplist hit
    * OR any non-`[a-z0-9]` character — RAKE's punctuation split,
    * pinned as a token-level rule since [[tokens]] keeps punctuation
    * attached); each word scores deg(w)/freq(w) over the DOCUMENT
    * (freq = occurrences inside candidate phrases, deg = Σ length of
    * the phrases containing each occurrence — co-occurrence degree
    * including self), a phrase scores the sum of its member word
    * scores, and the top `topK` DISTINCT phrases per doc survive
    * (score desc, phrase asc — fully deterministic).
    *
    * Determinism: deg and freq are exact integers; each word score is
    * ONE IEEE division rounded to 9 dp and staged through
    * DECIMAL(18,9) (the q59 device), so phrase sums are EXACT decimal
    * arithmetic — no float-summation-order ambiguity at any
    * partitioning, and ranking compares decimals.
    *
    * Scale shape: one token explode (corpus-sized, the x-family
    * posture), phrase/word stats are doc-keyed aggregates riding
    * doc_id-partitioned shuffles; the ranking window runs on the
    * doc×distinct-phrase table (bounded by text size, not corpus
    * joins). Per-doc windows order by position — no global sort. */
  def rake(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, topK: Int = 3): org.apache.spark.sql.DataFrame = Settle.scope("rake") { st =>
    import org.apache.spark.sql.expressions.Window
    val tok = df.select(col(idCol).as("doc_id"),
        posexplode(tokens(col(textCol))).as(Seq("p", "tok")))
      .withColumn("delim", col("tok").isin(rakeStopwords.map(lit(_)): _*) ||
        col("tok").rlike("[^a-z0-9]") || col("tok") === "")
    val wDoc = Window.partitionBy("doc_id").orderBy("p")
    // NOT cached (measured DON'T-DO, like x40's persists): three
    // consumers (phrase fold, word stats, phrase scoring) re-run the
    // tokenize + posexplode + per-doc window chain, yet caching it did
    // not pay. x45 at sf0.1, min of 3 passes, 10 alternating fresh-JVM
    // pairs on 4 vCPUs: cached won 5/10, median 2.161 s vs 2.220 s
    // recomputed — a 0.059 s gap inside the cached side's 0.270 s
    // interquartile range.
    val member = tok
      .withColumn("grp", sum(col("delim").cast("long")).over(wDoc))
      .filter(!col("delim"))
    val phrases = member.groupBy("doc_id", "grp")
      .agg(sort_array(collect_list(struct(col("p"), col("tok")))).as("pt"))
      .select(col("doc_id"), col("grp"),
        concat_ws(" ", transform(col("pt"), s => s.getField("tok"))).as("phrase"),
        size(col("pt")).as("plen"))
    val wordStats = member.join(phrases.select("doc_id", "grp", "plen"),
        Seq("doc_id", "grp"))
      .groupBy("doc_id", "tok")
      .agg(count(lit(1)).as("freq"), sum("plen").as("deg"))
      .select(col("doc_id"), col("tok"),
        round(col("deg").cast("double") / col("freq"), 9)
          .cast("decimal(18,9)").as("wscore"))
    val scored = member.select("doc_id", "grp", "tok")
      .join(wordStats, Seq("doc_id", "tok"))
      .groupBy("doc_id", "grp").agg(sum("wscore").as("pscore"))
      .join(phrases.select("doc_id", "grp", "phrase"), Seq("doc_id", "grp"))
      .groupBy("doc_id", "phrase")
      .agg(max("pscore").as("score"), count(lit(1)).as("n_occur"))
    val wRank = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("phrase"))
    // topK-per-doc result settles eagerly, so a caller's final sort
    // samples its range bounds from the settled rows instead of
    // re-evaluating the chain; no terminal orderBy (row order is not
    // part of the operator contract — the x45 query applies its own)
    st.settle(scored.withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= topK)
      .select(col("doc_id"), col("rank"), col("phrase"),
        col("score").cast("decimal(28,9)").as("score"), col("n_occur")), "phrases")
  }

  /** Flesch reading ease + Flesch–Kincaid grade level (Flesch 1948;
    * Kincaid et al. 1975) — the classic readability pair, and the
    * quality axis x2/x18/x37 don't cover: sentence- and syllable-
    * structure. Syllables via the standard vowel-group heuristic
    * (non-overlapping `[aeiouy]+` runs per word, floor 1 — exact for
    * the metric's own definition, which was fit to this heuristic);
    * sentences = `[.!?]+` runs, floor 1.
    *
    * Determinism: all three counts are exact integers (the per-word
    * syllable list sums in any order — integers); each score is ONE
    * pinned IEEE expression of integer-cast doubles; the 3-dp
    * constants parse to identical doubles on both engines (a small
    * integer divided by 1000 — correctly-rounded either path).
    *
    * Scale shape: one map pass, zero shuffles, zero explodes (the
    * per-word counts fold WITHIN the row via array HOFs — the x39
    * device). */
  def readability(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    val toks = tokens(col(textCol))
    val nWords = size(toks).cast("long")
    val nSent = greatest(regexp_count(col(textCol), lit("[.!?]+")), lit(1))
      .cast("long")
    val syl = aggregate(
      transform(toks, w =>
        greatest(regexp_count(w, lit("[aeiouy]+")), lit(1)).cast("long")),
      lit(0L), (acc, x) => acc + x)
    def D(c: Column) = c.cast("double")
    val wps = D(col("n_words")) / D(col("n_sentences"))
    val spw = D(col("n_syllables")) / D(col("n_words"))
    df.select(col(idCol).as("id"), nWords.as("n_words"),
        nSent.as("n_sentences"), syl.as("n_syllables"))
      .filter(col("n_words") > 0)
      .select(col("id"), col("n_words"), col("n_sentences"),
        col("n_syllables"),
        (round(lit(206.835) - lit(1.015) * wps - lit(84.6) * spw, 6) + 0.0)
          .as("reading_ease"),
        (round(lit(0.39) * wps + lit(11.8) * spw - lit(15.59), 6) + 0.0)
          .as("fk_grade"))
  }

  /** Interpolated Kneser-Ney bigram perplexity (Kneser & Ney 1995;
    * Chen & Goodman 1998) — the canonical n-gram smoothing, and the
    * fidelity step past [[bigramPerplexity]]'s Jelinek-Mercer mix: the
    * lower-order term is the CONTINUATION probability P_cont(w) =
    * N₁₊(·,w)/B (how many distinct contexts w completes, over total
    * bigram types), not raw frequency — "Francisco" is frequent but
    * only ever follows "San", so KN correctly refuses to predict it in
    * fresh contexts, the exact failure mode raw-frequency backoff has
    * on boilerplate corpora. P(w|v) = (c(v,w) − D + D·N₁₊(v,·)·
    * P_cont(w)) / c(v), absolute discount D = 0.75.
    *
    * Trained and scored on the SAME corpus (the self-perplexity
    * quality read: low = templated/repetitive, high = unmodelable
    * noise — ranked against siblings x13/x22), so every scored bigram
    * exists in the model: c(v,w) ≥ 1 > D and no OOV path is needed.
    *
    * Determinism: every model quantity is an exact integer (counts,
    * distinct-counts, type total); P is one pinned IEEE sequence of
    * integer-cast doubles; per-bigram ln rounds to 9 decimals and sums
    * as DECIMAL(18,9) — order-free — with one terminal exp (the x13/
    * x22 device).
    *
    * Scale shape: one bigram explode feeds the (v,w) count (map-side
    * combined); context stats N₁₊(v,·)/c(v) and continuation counts
    * N₁₊(·,w) are groupBys OF THE COUNT TABLE (type-cardinality, not
    * corpus-cardinality); scoring re-joins the doc bigrams to the
    * model by equi-key — at 100 TB all joins shuffle type-sized model
    * tables against the bigram stream, and the 1-row type total rides
    * a broadcast cross (the x35 allowlisted shape). */
  def kneserNeyPerplexity(df: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String,
      discount: Double = 0.75): org.apache.spark.sql.DataFrame = {
    val toks = df.select(col(idCol).as("id"), tokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) >= 2)
    // NOT persisted (r14 measured DON'T-DO): persisting `big` (the
    // corpus bigram string rows, 2 consumers) took task time 2.1 → 16 s
    // — caching string rows costs more than re-running the zip_with
    // explode; persisting `bcnt` alone (4 consumers) still took task
    // time to ~9 s and wall +0.3 s, because the InMemoryRelation hides
    // the size statistics AQE uses to broadcast the model joins below.
    // The recompute-per-consumer form keeps every model join a
    // broadcast and measures fastest (1.6–1.85 s vs 2.0–2.3 s).
    val big = toks.select(col("id"), explode(expr(
        "zip_with(slice(toks, 1, size(toks)-1), slice(toks, 2, size(toks)-1), " +
          "(a, b) -> struct(a AS w1, b AS w2))")).as("bg"))
      .select(col("id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val bcnt = big.groupBy("w1", "w2").agg(count(lit(1)).as("cvw"))
    val ctx = bcnt.groupBy("w1")
      .agg(sum("cvw").cast("long").as("cv"), count(lit(1)).as("n1v"))
    val cont = bcnt.groupBy("w2").agg(count(lit(1)).as("n1w"))
    val btypes = bcnt.agg(count(lit(1)).as("b"))
    val p = (col("cvw").cast("double") - lit(discount) +
      lit(discount) * col("n1v").cast("double") *
        (col("n1w").cast("double") / col("b").cast("double"))) /
      col("cv").cast("double")
    big.join(bcnt, Seq("w1", "w2"))
      .join(ctx, Seq("w1"))
      .join(cont, Seq("w2"))
      .crossJoin(broadcast(btypes))
      .withColumn("lp", round(log(p), 9).cast("decimal(18,9)"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_bi"), sum("lp").as("slp"))
      .select(col("id"), col("n_bi"),
        round(-(col("slp").cast("double") / col("n_bi")), 6).as("ln_ppl"))
  }

  def repetitionSignals(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    val st = graft.expressions.Kernels.repetitionStats(Dedup.normText(col(textCol)))
    df.select(col(idCol).as("id"), st.as("st"))
      .select(col("id"), col("st.n_tok").as("n_tok"),
        round(coalesce(col("st.top_tok") / col("st.n_tok"), lit(0.0)), 6)
          .as("top_tok_frac"),
        round(coalesce(col("st.top_bi") / (col("st.n_tok") - 1), lit(0.0)), 6)
          .as("top_bigram_frac"),
        round(coalesce(col("st.dup5"), lit(0.0)), 6).as("dup_5gram_frac"))
      .withColumn("repetitive",
        col("top_tok_frac") > 0.2 || col("top_bigram_frac") > 0.18 ||
          col("dup_5gram_frac") > 0.3)
  }

  /** Token-distribution drift between two corpus slices — the
    * "did this month's crawl shift under me" monitor every corpus
    * pipeline needs (and the slice-vs-slice form of DSIR's
    * target-vs-raw comparison, x19).
    *
    * Both slices get Laplace-smoothed unigram models over the SHARED
    * vocabulary: p_s(t) = (c_s(t)+1)/(N_s+V). Output is one row per
    * vocabulary token with both directed KL contributions
    * p·ln(p/q) — their sums are KL(A‖B) and KL(B‖A); per-token rows
    * beat a single scalar because they ARE the drift explanation
    * (which tokens moved).
    *
    * Determinism: terms are rounded to 9 decimals (+0.0 kills IEEE
    * −0) — the x13 convention, so the oracle replays bit-exact.
    *
    * Scale shape: ONE token-explode aggregation with conditional
    * map-side-combined sums (the slice flag rides the same scan —
    * no second corpus pass); everything downstream runs on the
    * vocabulary-sized count table, with the 1-row totals broadcast.
    * At open-vocabulary scale, cap V with the x13 top-V cut or x19's
    * hashed buckets — both documented swaps. */
  def tokenDrift(df: org.apache.spark.sql.DataFrame, textCol: String,
      sliceA: Column): org.apache.spark.sql.DataFrame =
    driftFromCounts(tokenCounts(df, textCol, sliceA))

  /** The corpus pass of [[tokenDrift]]: per-token slice counts
    * (tok, c_a, c_b). Mergeable across batches by summing — the
    * streaming form (S12) maintains exactly this table as state. */
  def tokenCounts(df: org.apache.spark.sql.DataFrame, textCol: String,
      sliceA: Column): org.apache.spark.sql.DataFrame =
    df.select(sliceA.as("in_a"), explode(tokens(col(textCol))).as("tok"))
      .groupBy("tok").agg(
        sum(when(col("in_a"), 1L).otherwise(0L)).as("c_a"),
        sum(when(col("in_a"), 0L).otherwise(1L)).as("c_b"))

  /** The model pass of [[tokenDrift]]: drift terms from a
    * (tok, c_a, c_b) count table — vocabulary-sized math only. */
  def driftFromCounts(
      counts: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val stats = counts.agg(sum("c_a").as("na"), sum("c_b").as("nb"),
      count(lit(1)).as("v"))
    counts.crossJoin(broadcast(stats))
      .withColumn("p_a",
        (col("c_a") + 1).cast("double") / (col("na") + col("v")).cast("double"))
      .withColumn("p_b",
        (col("c_b") + 1).cast("double") / (col("nb") + col("v")).cast("double"))
      .select(col("tok"), col("c_a"), col("c_b"),
        (round(col("p_a") * log(col("p_a") / col("p_b")), 9) + 0.0)
          .as("kl_ab_term"),
        (round(col("p_b") * log(col("p_b") / col("p_a")), 9) + 0.0)
          .as("kl_ba_term"))
  }

  /** Moving-average type-token ratio (MATTR, McCarthy & Jarvis 2010)
    * — the window-stabilized lexical-diversity quality signal: plain
    * TTR (types/tokens) collapses as documents grow (every corpus
    * tends to its vocabulary), so the comparable form averages TTR
    * over every length-`w` sliding window. Low MATTR at normal length
    * = keyboard mash / template spam / looped boilerplate that x2's
    * ratio rules and x8's longest-run checks can miss (a 3-phrase loop
    * has healthy char ratios and short max runs but floor-level window
    * diversity).
    *
    * Exactness: per-window distinct counts are INTEGERS summed
    * exactly; `mattr = Σ|distinct(win_i)| / (n_windows · w)` is ONE
    * terminal IEEE division of two exact int64→double casts — nothing
    * order-sensitive anywhere. Docs shorter than `w` get one
    * whole-doc window (wl = min(w, n), so their MATTR degrades to
    * plain TTR — documented, not special-cased).
    *
    * Scale shape: ENTIRELY within-row — tokens, windows, distincts,
    * and sums are array HOFs on each doc's own token array (one scan,
    * zero shuffle, zero explode; the map-only x1/x16 kernel posture,
    * here in declarative HOF form). Per-doc cost O(n·w) bounded by
    * doc length, independent of corpus size. */
  def mattr(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, w: Int = 25): org.apache.spark.sql.DataFrame = {
    val toked = df.select(col(idCol).as("doc_id"),
        filter(tokens(col(textCol)), t => t =!= lit("")).as("toks"))
      .withColumn("n", size(col("toks")))
      .withColumn("wl", least(lit(w), col("n")))
      .withColumn("nw", col("n") - col("wl") + lit(1))
    toked
      .withColumn("swt",
        aggregate(
          transform(sequence(lit(1), col("nw")),
            i => size(array_distinct(slice(col("toks"), i, col("wl"))))),
          lit(0L), (acc, x) => acc + x))
      .select(col("doc_id"), col("n").cast("long").as("n_tokens"),
        size(array_distinct(col("toks"))).cast("long").as("n_types"),
        col("wl").cast("long").as("win_len"),
        col("nw").cast("long").as("n_windows"),
        col("swt").as("sum_win_types"),
        when(col("n") > 0,
          col("swt").cast("double") /
            (col("nw") * col("wl")).cast("double")).as("mattr"))
      .orderBy("doc_id")
  }

  /** Per-source integer MATTR partials of ONE batch — (source,
    * n_docs, n_tokens, sum_win_types, sum_win_slots), every column a
    * plain additive int64, so the table is a SEMIGROUP: the S29
    * streaming monitor folds these across triggers as
    * source-cardinality state and [[mattrMassFromPartials]] re-derives
    * the corpus read per trigger. The window sums reuse [[mattr]]'s
    * within-row HOF kernel (zero shuffle before the source groupBy;
    * text never moves). */
  def mattrPartials(df: org.apache.spark.sql.DataFrame, srcCol: String,
      textCol: String, w: Int = 25): org.apache.spark.sql.DataFrame = {
    val toked = df.select(col(srcCol).as("source"),
        filter(tokens(col(textCol)), t => t =!= lit("")).as("toks"))
      .withColumn("n", size(col("toks")))
      .withColumn("wl", least(lit(w), col("n")))
      .withColumn("nw", col("n") - col("wl") + lit(1))
      .withColumn("swt",
        aggregate(
          transform(sequence(lit(1), col("nw")),
            i => size(array_distinct(slice(col("toks"), i, col("wl"))))),
          lit(0L), (acc, x) => acc + x))
    toked.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      sum(col("n").cast("long")).as("n_tokens"),
      sum(col("swt")).as("sum_win_types"),
      sum((col("nw") * col("wl")).cast("long")).as("sum_win_slots"))
  }

  /** Corpus lexical-diversity mass from folded [[mattrPartials]]
    * state: per source, the token-WEIGHTED moving-window type ratio
    * Σ|distinct(win)| / Σ window-slots — x39's corpus-level companion
    * (x39 reports per-doc MATTR; this is the mix-level monitor a
    * crawl watches live: the ratio collapsing for one source =
    * boilerplate flooding in). ONE terminal IEEE division per source
    * over exact int64 sums — fold-order-free by construction. */
  def mattrMassFromPartials(
      partials: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    partials.groupBy("source").agg(
        sum(col("n_docs")).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(col("sum_win_types")).as("sum_win_types"),
        sum(col("sum_win_slots")).as("sum_win_slots"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("sum_win_types"), col("sum_win_slots"),
        when(col("sum_win_slots") > 0L,
          col("sum_win_types").cast("double") /
            col("sum_win_slots").cast("double")).as("mattr_mass"))
      .orderBy("source")

  /** Zipf rank-frequency power-law fit from a (source, tok, c) count
    * table — the terminal half of x38 (`LlmQueries.x38Zipf`):
    * least-squares slope/intercept of ln(count) on ln(rank) over each
    * source's top-`topR` tokens (rank by count desc, tok asc — fully
    * deterministic). Healthy natural language sits near slope −1;
    * flatter = templated/boilerplate, steeper = degenerate repetition.
    *
    * Exactness device — the INTEGER-MICROS grid: ln(rank) and
    * ln(count) (both logs OF INTEGERS, identical cross-engine) round
    * to 6 dp and scale to integer micros through an exact decimal hop,
    * so all four regression sums are plain BIGINT arithmetic —
    * order-free, bounded INDEPENDENT of corpus size (rank ≤ topR and
    * ln count ≤ 28 cap Σxy at ~3·10¹⁶). Slope/intercept then derive
    * through a PINNED sequence of double ops on int64→double casts
    * (correctly rounded on every engine — unlike high-scale
    * decimal→double, which DuckDB 1.0 measurably is not).
    *
    * The count table is a SEMIGROUP (counts fold by addition — the
    * x24/S12 tokenCounts discipline), so the streaming form (S27)
    * maintains it as state and calls this per trigger. Everything
    * after the count table is vocab-bounded; the per-source rank
    * window shuffles (source, tok, c) rows only, never text. */
  def zipfFromCounts(tk: org.apache.spark.sql.DataFrame,
      topR: Int = 200): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}
    val w = Window.partitionBy("source").orderBy(desc("c"), asc("tok"))
    val ranked = tk.withColumn("rk", row_number().over(w))
    // round6 → DECIMAL(12,6) → ×1e6 → long: the decimal hop makes the
    // micros integer exact (round6 alone yields a double whose ×1e6
    // can land a hair under the integer and truncate wrong)
    def micros(c: Column) =
      (round(log(c), 6).cast(DecimalType(12, 6)) * 1000000)
        .cast(LongType)
    val top = ranked.filter(col("rk") <= topR)
      .select(col("source"), micros(col("rk")).as("x"),
        micros(col("c")).as("y"))
    val ag = tk.groupBy("source").agg(countDistinct("tok").as("n_vocab"))
    val sums = top.groupBy("source").agg(
      count(lit(1)).as("r_used"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"))
    def D(c: Column) = c.cast(DoubleType)
    sums.join(ag, Seq("source"))
      .withColumn("num",
        D(col("r_used")) * D(col("sxy")) - D(col("sx")) * D(col("sy")))
      .withColumn("den",
        D(col("r_used")) * D(col("sxx")) - D(col("sx")) * D(col("sx")))
      .withColumn("num_b",
        D(col("sy")) * D(col("sxx")) - D(col("sx")) * D(col("sxy")))
      .select(col("source"), col("n_vocab"), col("r_used"),
        (col("num") / col("den")).as("zipf_slope"),
        (col("num_b") / col("den") / lit(1000000.0)).as("zipf_intercept"))
      .orderBy("source")
  }

  /** Good-Turing frequency-of-frequencies: N_r = token TYPES occurring
    * exactly r times (r ≤ maxR), each row carrying its corpus mass
    * share r·N_r/N and the classic Good-Turing adjusted count
    * r* = (r+1)·N_{r+1}/N_r. Row r=1's mass share IS the Good-Turing
    * estimate of UNSEEN-token probability mass (N_1/N) — the OOV-rate
    * read for tokenizer/vocab planning: a corpus whose singleton mass
    * stays high keeps surprising the model; one whose N_1/N collapsed
    * is saturated (the x33 growth curve's probabilistic sibling).
    *
    * Scale shape: one token explode + one vocab-keyed count (the x24
    * shape); the freq-of-freq table is ≤ maxR rows, so the dense grid
    * join, total cross, and the N_{r+1} lead window all run on
    * bounded-cardinality data. Counts exact; the two divisions per row
    * are single IEEE ops the oracle replays. */
  def goodTuring(df: org.apache.spark.sql.DataFrame, textCol: String,
      maxR: Int = 10): org.apache.spark.sql.DataFrame =
    goodTuringFromCounts(tokenTypeCounts(df, textCol), maxR)

  /** Token-type counts (tok, c) of a text column, the empty token
    * INCLUDED: Good-Turing's N is every token the tokenizer emits (x35
    * and its S24 fold). [[sourceTokenCounts]] drops "" because Zipf
    * ranks words, so the two tables stay two definitions. */
  def tokenTypeCounts(df: org.apache.spark.sql.DataFrame,
      textCol: String): org.apache.spark.sql.DataFrame =
    df.select(explode(tokens(col(textCol))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c"))

  /** Per-source token counts (source, tok, c) of a text column, the
    * empty token dropped — the input of [[zipfFromCounts]] (x38 and its
    * S27 fold; see [[tokenTypeCounts]] for the table that keeps ""). */
  def sourceTokenCounts(df: org.apache.spark.sql.DataFrame, textCol: String,
      sourceCol: String): org.apache.spark.sql.DataFrame =
    df.select(col(sourceCol).as("source"),
        explode(tokens(col(textCol))).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy("source", "tok").agg(count(lit(1)).as("c"))

  /** The terminal half of [[goodTuring]], from a (tok, c) count table.
    * The count table is a SEMIGROUP (counts fold by addition — the
    * x24/S12 tokenCounts discipline), so the streaming form (S24)
    * maintains it as state and calls this per trigger. The N_{r+1}
    * lead window has no `partitionBy`: it sorts the `maxR`-row grid in
    * one task, bounded by `maxR` whatever the vocabulary size. */
  def goodTuringFromCounts(tc: org.apache.spark.sql.DataFrame,
      maxR: Int = 10): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val st = tc.agg(sum("c").cast("long").as("n"))
    val ff = tc.filter(col("c") <= maxR)
      .groupBy(col("c").as("r")).agg(count(lit(1)).as("n_r"))
    val grid = tc.sparkSession.range(1, maxR + 1).toDF("r")
    val w = Window.orderBy("r")
    grid.join(ff, Seq("r"), "left").na.fill(0L, Seq("n_r"))
      .crossJoin(broadcast(st))
      .withColumn("n_r1", coalesce(lead("n_r", 1).over(w), lit(0L)))
      .select(col("r"), col("n_r"),
        round(col("r") * col("n_r") / col("n"), 6).as("mass_share"),
        when(col("n_r") > 0,
          round((col("r") + 1) * col("n_r1") / col("n_r"), 6)).as("r_star"))
      .orderBy("r")
  }

  /** Heaps'-law vocabulary growth curve: the corpus in arrival order
    * (`idCol`) cut into `nBuckets` equal-width id ranges, and per
    * bucket the cumulative doc count, token count, and DISTINCT-token
    * vocabulary size — the V(n) ~ K·n^β read that says whether a crawl
    * is still discovering new vocabulary or has saturated (a saturated
    * slice is re-crawl/duplicate territory; reference capability:
    * corpus-level string profiling, `bertrand/types/string.py`).
    *
    * The cumulative-distinct trick: vocab(≤b) needs no per-prefix
    * distinct pass — each token contributes at exactly the bucket of
    * its FIRST occurrence (min id), so one `groupBy(tok).min(id)`
    * gives per-bucket "new token" counts whose running sum IS the
    * growth curve. All outputs are exact integers.
    *
    * Scale shape: one token explode + one tok-keyed shuffle (the x24
    * tokenCounts shape); the id bounds are a broadcast scalar; the
    * final cumulative window has no `partitionBy`: it sorts `nBuckets`
    * rows (bucket cardinality, NOT corpus cardinality) in one task,
    * bounded by construction. */
  def vocabGrowth(df: org.apache.spark.sql.DataFrame, textCol: String,
      idCol: String, nBuckets: Int = 20): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = df.select(col(idCol).as("gid"), tokens(col(textCol)).as("toks"))
    val bounds = base.agg(min("gid").as("lo"), max("gid").as("hi"))
    // exact integer bucketing (DIV, not float floor: a double quotient
    // landing one ulp above an integer boundary would mis-bucket)
    val bucketSql = s"least($nBuckets - 1, ((gid - lo) * $nBuckets)" +
      " div (hi - lo + 1))"
    val withB = base.crossJoin(broadcast(bounds))
      .withColumn("bucket", expr(bucketSql))
    val docSide = withB.groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(col("toks")).cast("long")).as("n_tokens"))
    val firstSeen = withB.select(col("gid"), explode(col("toks")).as("tok"))
      .groupBy("tok").agg(min("gid").as("gid"))
      .crossJoin(broadcast(bounds))
      .select(expr(bucketSql).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("new_tokens"))
    val w = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docSide.join(firstSeen, Seq("bucket"), "left")
      .na.fill(0L, Seq("new_tokens"))
      .select(col("bucket"), col("n_docs"), col("n_tokens"),
        col("new_tokens"),
        sum("n_docs").over(w).as("docs_cum"),
        sum("n_tokens").over(w).as("tokens_cum"),
        sum("new_tokens").over(w).as("vocab_cum"))
  }
}
