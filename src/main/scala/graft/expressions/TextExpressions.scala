package graft.expressions

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Text normalization in one compiled pass: lowercase (UTF8String's
  * own toLowerCase — identical to Spark's `lower()`), runs of
  * whitespace collapsed to a single space, leading/trailing trimmed.
  * Byte-level whitespace set = Java regex `\s` ([ \t\n\x0B\f\r]), so
  * the result is byte-identical to
  * `trim(regexp_replace(lower(text), "\\s+", " "))` — digests computed
  * on it keep matching the oracle's regexp formulation. */
object NormalizeText {
  private def isWs(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == 0x0b || b == '\f' || b == '\r'

  def compute(s: UTF8String): UTF8String = {
    val lowered = s.toLowerCase
    val b = lowered.getBytes
    val n = b.length
    val out = new Array[Byte](n)
    var o = 0
    var i = 0
    var pendingSpace = false
    while (i < n) {
      val c = b(i)
      if (isWs(c)) {
        if (o > 0) pendingSpace = true // leading ws drops; interior defers
      } else {
        if (pendingSpace) { out(o) = ' '; o += 1; pendingSpace = false }
        out(o) = c; o += 1
      }
      i += 1
    }
    // trailing pendingSpace (if any) is dropped = trim
    UTF8String.fromBytes(java.util.Arrays.copyOf(out, o))
  }
}

object TextHashKernels {
  import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}

  private val FnvBasis = 0xcbf29ce484222325L
  private val FnvPrime = 0x100000001b3L

  /** Canonical language stopword profiles, in tie-break order (the
    * earliest profile attaining the max score wins). TextAnalysis
    * derives its public map from this list. */
  val langProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "you", "that", "it", "for", "a"),
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht", "mit", "ein", "zu", "von"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "para", "con", "por"),
    "fr" -> Seq("le", "la", "de", "et", "les", "des", "une", "pour", "que", "dans"))

  private def fnvBytes(b: Array[Byte], from: Int, until: Int): Long = {
    var h = FnvBasis
    var i = from
    while (i < until) { h ^= (b(i) & 0xff); h *= FnvPrime; i += 1 }
    h
  }

  private lazy val profileNames: Array[UTF8String] =
    langProfiles.map(p => UTF8String.fromString(p._1)).toArray
  private lazy val profileHashes: Array[Array[Long]] =
    langProfiles.map(_._2.map { w =>
      val b = w.getBytes("UTF-8"); fnvBytes(b, 0, b.length)
    }.toArray).toArray

  private val zh = UTF8String.fromString("zh")
  private val und = UTF8String.fromString("und")

  /** Heuristic language ID fused into one compiled pass: CJK code-point
    * ratio over the RAW text plus per-profile stopword-hit ratios over
    * the NORMALIZED text, with the earliest-max tie-break — exactly the
    * arithmetic of the Column formulation it replaces (and of the DuckDB
    * oracle): pred = cjk > 0.3 ? "zh" : best > 0 ? argmax : "und". */
  def langId(raw: UTF8String, norm: UTF8String): UTF8String = {
    val rs = raw.toString
    var i = 0
    var total = 0
    var cjkN = 0
    while (i < rs.length) {
      val cp = rs.codePointAt(i)
      total += 1
      if (cp >= 0x4e00 && cp <= 0x9fff) cjkN += 1
      i += Character.charCount(cp)
    }
    if (cjkN.toDouble / math.max(total, 1) > 0.3) return zh
    val b = norm.getBytes
    val n = b.length
    val hits = new Array[Int](profileHashes.length)
    var ntok = 0
    var start = 0
    var pos = 0
    while (pos <= n) {
      if (pos == n || b(pos) == ' ') {
        ntok += 1
        val h = fnvBytes(b, start, pos)
        var p = 0
        while (p < profileHashes.length) {
          val ph = profileHashes(p)
          var k = 0
          while (k < ph.length) {
            if (ph(k) == h) { hits(p) += 1; k = ph.length }
            else k += 1
          }
          p += 1
        }
        start = pos + 1
      }
      pos += 1
    }
    val denom = math.max(ntok, 1).toDouble
    var bestIdx = 0
    var best = hits(0) / denom
    var p = 1
    while (p < hits.length) {
      val sc = hits(p) / denom
      if (sc > best) { best = sc; bestIdx = p }
      p += 1
    }
    if (best > 0.0) profileNames(bestIdx) else und
  }

  private def fnv(cps: Array[Int], from: Int, until: Int): Long = {
    var h = FnvBasis
    var i = from
    while (i < until) { h ^= cps(i); h *= FnvPrime; i += 1 }
    h
  }

  private def codePoints(s: String): Array[Int] = {
    val out = new Array[Int](s.codePointCount(0, s.length))
    var i = 0; var j = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      out(j) = cp; j += 1; i += Character.charCount(cp)
    }
    out
  }

  private def sortedDistinct(h: Array[Long], len: Int): ArrayData = {
    java.util.Arrays.sort(h, 0, len)
    var out = 1
    var i = 1
    while (i < len) {
      if (h(i) != h(i - 1)) { h(out) = h(i); out += 1 }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(h, if (len == 0) 0 else out))
  }

  /** Sorted distinct 64-bit hashes of the character n-grams of a string,
    * in one compiled pass — replaces an interpreted
    * `array_sort(array_distinct(transform(sequence(...), xxhash64(substr))))`
    * chain. Code-point aware (matches SQL substr semantics); strings
    * shorter than `n` produce one partial gram (the whole string). The
    * hash is FNV-1a 64 — any injective-in-practice hash preserves set
    * cardinalities, which is all Jaccard needs (the oracle compares
    * jaccard VALUES computed on substring sets). */
  def charGrams(s: UTF8String, n: Int): ArrayData = {
    val cps = codePoints(s.toString)
    val count = math.max(cps.length - n + 1, 1)
    val h = new Array[Long](count)
    var i = 0
    while (i < count) {
      h(i) = fnv(cps, i, math.min(i + n, cps.length))
      i += 1
    }
    sortedDistinct(h, count)
  }

  /** Sorted distinct 64-bit hashes of the word w-shingles of a normalized
    * (single-spaced) string, one compiled pass — replaces the interpreted
    * zip_with/concat_ws/transform shingle chain. Shingle text spans are
    * hashed in place (tokens joined by single spaces already).
    *
    * Input must be single-space normalized. Shingle i spans token i
    * through token i+w-1 including separating spaces — identical to
    * joining the tokens with ' '. Fewer than w tokens → one partial
    * shingle (the whole string). */
  def wordShingles(s: UTF8String, w: Int): ArrayData = {
    val cps = codePoints(s.toString)
    val n = cps.length
    // token start offsets
    var ntok = 1
    var i = 0
    while (i < n) { if (cps(i) == ' ') ntok += 1; i += 1 }
    val starts = new Array[Int](ntok)
    val ends = new Array[Int](ntok)
    var t = 0
    starts(0) = 0
    i = 0
    while (i < n) {
      if (cps(i) == ' ') { ends(t) = i; t += 1; starts(t) = i + 1 }
      i += 1
    }
    ends(t) = n
    val count = math.max(ntok - w + 1, 1)
    val h = new Array[Long](count)
    var sIdx = 0
    while (sIdx < count) {
      h(sIdx) = fnv(cps, starts(sIdx), ends(math.min(sIdx + w - 1, ntok - 1)))
      sIdx += 1
    }
    sortedDistinct(h, count)
  }
}

/** Minimum w-shingle MD5 fingerprint of a normalized (single-spaced)
  * text column, fused into ONE compiled pass: tokenize → w-token
  * windows → md5 per window → min of the 15-hex-char (60-bit) prefix.
  *
  * Replaces a chain of interpreted `zip_with`/`transform` HOF lambdas
  * (the round-1 x4 hot spot). MD5 (not xxhash64) so the DuckDB oracle
  * can reproduce the value: `CAST('0x' || substr(md5(s),1,15) AS
  * BIGINT)` on the same shingle strings.
  *
  * Winnowing-style robust fingerprint semantics per reference
  * bertrand/util/string.pyx (content hashing) — stable under small
  * edits: the minimum shingle usually survives. */
object ShingleMinMd5 {

  private val mdLocal: ThreadLocal[MessageDigest] =
    new ThreadLocal[MessageDigest] {
      override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
    }

  /** DSIR hashed-gram buckets in one compiled pass: md5-bucket (first 4
    * hex chars mod `buckets`) of every unigram AND space-joined bigram of
    * the ' '-separated input. Bigram bytes are the contiguous original
    * span (split on ' ' guarantees 1-space separators), so the digest
    * equals md5(w1 || ' ' || w2) without building gram strings — replaces
    * the interpreted transform/concat/md5/conv Column chain. */
  def dsirGramBuckets(s: UTF8String, buckets: Int)
      : org.apache.spark.sql.catalyst.util.ArrayData = {
    val b = s.getBytes
    val n = b.length
    var ntok = 1
    var i = 0
    while (i < n) { if (b(i) == ' ') ntok += 1; i += 1 }
    val tokStart = new Array[Int](ntok)
    val tokEnd = new Array[Int](ntok)
    var t = 0
    var start = 0
    var pos = 0
    while (pos <= n) {
      if (pos == n || b(pos) == ' ') {
        tokStart(t) = start; tokEnd(t) = pos
        t += 1
        start = pos + 1
      }
      pos += 1
    }
    val md = mdLocal.get()
    def bucketOf(from: Int, until: Int): Int = {
      md.reset()
      md.update(b, from, until - from)
      val d = md.digest()
      (((d(0) & 0xff) << 8) | (d(1) & 0xff)) % buckets
    }
    val nOut = ntok + (if (ntok >= 2) ntok - 1 else 0)
    val out = new Array[Int](nOut)
    i = 0
    while (i < ntok) { out(i) = bucketOf(tokStart(i), tokEnd(i)); i += 1 }
    i = 0
    while (i < ntok - 1) {
      out(ntok + i) = bucketOf(tokStart(i), tokEnd(i + 1))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Bottom-k (KMV) sketch of the character n-grams of a string: the k
    * smallest DISTINCT 60-bit md5-prefix gram hashes, sorted ascending,
    * in one compiled pass. Gram spans are code points (SQL substr
    * semantics, like [[TextHashKernels.charGrams]]); strings shorter
    * than n yield the single whole-string gram. md5-prefix (not xxhash64) so every
    * sketch value replays in DuckDB as
    * `CAST('0x' || substr(md5(substr(nt, i, n)), 1, 15) AS BIGINT)`.
    * The sketch is MERGEABLE (bottom-k of a union = bottom-k of the
    * merged bottom-ks) — the constant-size per-doc state the KMV
    * Jaccard estimate (Beyer et al., SIGMOD 2007) compares in O(k).
    *
    * Sorted-insert into a k-slot buffer — O(len·k) worst case with k a
    * small constant; duplicates (repeated grams) are skipped at insert,
    * so the sketch is over the gram SET. */
  def charGramKmv(s: UTF8String, n: Int, k: Int)
      : org.apache.spark.sql.catalyst.util.ArrayData = {
    val str = s.toString
    val len = str.length
    var ncp = 0
    var i = 0
    while (i < len) { ncp += 1; i += Character.charCount(str.codePointAt(i)) }
    val st = new Array[Int](ncp + 1)
    i = 0
    var c = 0
    while (i < len) { st(c) = i; c += 1; i += Character.charCount(str.codePointAt(i)) }
    st(ncp) = len
    val count = math.max(ncp - n + 1, 1)
    val md = mdLocal.get()
    val buf = new Array[Long](k)
    var m = 0
    var g = 0
    while (g < count) {
      val bytes = str.substring(st(g), st(math.min(g + n, ncp)))
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)
      md.reset()
      md.update(bytes)
      val d = md.digest()
      var v = 0L
      var b = 0
      while (b < 8) { v = (v << 8) | (d(b) & 0xffL); b += 1 }
      v = v >>> 4
      if (m < k || v < buf(m - 1)) {
        var lo = 0
        var hi = m
        while (lo < hi) {
          val mid = (lo + hi) >>> 1
          if (buf(mid) < v) lo = mid + 1 else hi = mid
        }
        if (!(lo < m && buf(lo) == v)) { // distinct grams only
          var j = math.min(m, k - 1)
          while (j > lo) { buf(j) = buf(j - 1); j -= 1 }
          buf(lo) = v
          if (m < k) m += 1
        }
      }
      g += 1
    }
    val out = new Array[Long](m)
    System.arraycopy(buf, 0, out, 0, m)
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Per-token 60-bit md5-prefix hashes of a normalized (single-spaced)
    * string, in token order (multiset — NOT sorted/deduped: SimHash needs
    * every occurrence). md5-prefix so the DuckDB oracle reproduces each
    * value: `CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT)`. */
  def tokenHashes(nt: UTF8String): org.apache.spark.sql.catalyst.util.ArrayData = {
    val b = nt.getBytes
    val n = b.length
    var ntok = 1
    var i = 0
    while (i < n) { if (b(i) == ' ') ntok += 1; i += 1 }
    val out = new Array[Long](ntok)
    val md = mdLocal.get()
    var t = 0
    var start = 0
    var pos = 0
    while (pos <= n) {
      if (pos == n || b(pos) == ' ') {
        md.reset()
        md.update(b, start, pos - start)
        val d = md.digest()
        var v = 0L
        var k = 0
        while (k < 8) { v = (v << 8) | (d(k) & 0xffL); k += 1 }
        out(t) = v >>> 4
        t += 1
        start = pos + 1
      }
      pos += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Input MUST be normalized text (single 0x20 separators — 0x20 never
    * occurs inside a UTF-8 multibyte sequence, so byte-level splitting
    * is UTF-8 safe). Documents shorter than `w` tokens yield one
    * partial shingle (the whole text), matching the Column/oracle
    * formulation. */
  def compute(nt: UTF8String, w: Int): Long = {
    val b = nt.getBytes
    val n = b.length
    var ntok = 1
    var i = 0
    while (i < n) { if (b(i) == ' ') ntok += 1; i += 1 }
    val tokStart = new Array[Int](ntok)
    val tokEnd = new Array[Int](ntok)
    var t = 0
    tokStart(0) = 0
    i = 0
    while (i < n) {
      if (b(i) == ' ') { tokEnd(t) = i; t += 1; tokStart(t) = i + 1 }
      i += 1
    }
    tokEnd(t) = n
    val nsh = math.max(ntok - (w - 1), 1)
    val md = mdLocal.get()
    var best = Long.MaxValue
    var s = 0
    while (s < nsh) {
      val from = tokStart(s)
      val until = tokEnd(math.min(s + w - 1, ntok - 1))
      md.reset()
      md.update(b, from, until - from)
      val d = md.digest()
      // value of the first 15 hex chars = unsigned BE of bytes 0..7, >>> 4
      var v = 0L
      var k = 0
      while (k < 8) { v = (v << 8) | (d(k) & 0xffL); k += 1 }
      v = v >>> 4
      if (v < best) best = v
      s += 1
    }
    best
  }
}

/** Fused mixed-type cell classification + numeric parse: ONE compiled
  * scan replaces the t19 hot path's four regex-engine evaluations per
  * row (int rlike, float rlike, lowercase token isin, and the coercing
  * float cast's own rlike). Returns struct<subtype, v> where subtype ∈
  * int|float|bool|string (first match wins, in that order — identical
  * to the reference's split-apply-combine detection ladder,
  * bertrand/convert/base.py columnwise) and v is the parsed double for
  * numeric shapes, null otherwise.
  *
  * The scanner accepts EXACTLY the shared oracle regex grammar:
  * int `^[+-]?\d+$`; float `^[+-]?(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?$`;
  * bool = case-insensitive true/false. */
object ClassifyNumeric {
  /** struct<subtype, v>: the result type of [[compute]]. */
  val dataType: StructType = StructType(Seq(
    StructField("subtype", StringType, nullable = false),
    StructField("v", DoubleType, nullable = true)))

  private val INT = UTF8String.fromString("int")
  private val FLOAT = UTF8String.fromString("float")
  private val BOOL = UTF8String.fromString("bool")
  private val STRING = UTF8String.fromString("string")

  /** (intShape, floatShape) in one left-to-right scan. */
  private def numericShape(s: String): (Boolean, Boolean) = {
    val n = s.length
    var i = 0
    if (n == 0) return (false, false)
    if (s.charAt(i) == '+' || s.charAt(i) == '-') i += 1
    var digs = 0
    while (i < n && s.charAt(i) >= '0' && s.charAt(i) <= '9') { i += 1; digs += 1 }
    if (i == n && digs > 0) return (true, true) // pure integer
    var fracDigs = 0
    var sawDot = false
    if (i < n && s.charAt(i) == '.') {
      sawDot = true
      i += 1
      while (i < n && s.charAt(i) >= '0' && s.charAt(i) <= '9') { i += 1; fracDigs += 1 }
    }
    // mantissa: \d+\.?\d* (digs >= 1) or \.\d+ (dot with >= 1 frac digit)
    if (!(digs >= 1 || (sawDot && fracDigs >= 1))) return (false, false)
    if (i < n && (s.charAt(i) == 'e' || s.charAt(i) == 'E')) {
      i += 1
      if (i < n && (s.charAt(i) == '+' || s.charAt(i) == '-')) i += 1
      var expDigs = 0
      while (i < n && s.charAt(i) >= '0' && s.charAt(i) <= '9') { i += 1; expDigs += 1 }
      if (expDigs == 0) return (false, false)
    }
    (false, i == n)
  }

  def compute(raw: UTF8String): InternalRow = {
    val s = raw.toString
    val (isInt, isFloat) = numericShape(s)
    if (isInt)
      new GenericInternalRow(Array[Any](INT, java.lang.Double.parseDouble(s)))
    else if (isFloat)
      new GenericInternalRow(Array[Any](FLOAT, java.lang.Double.parseDouble(s)))
    else if (s.equalsIgnoreCase("true") || s.equalsIgnoreCase("false"))
      new GenericInternalRow(Array[Any](BOOL, null))
    else
      new GenericInternalRow(Array[Any](STRING, null))
  }
}

/** Unicode text normalization for curation: NFC compose → NFD accent
  * strip (combining marks removed) → ROOT lowercase → trim + whitespace
  * collapse. The canonical pre-dedup/pre-tokenize cleanup ("Café" and
  * "Café" must dedup together). Kernel is a static call inside
  * codegen (one virtual call per row, no regex re-compilation — the
  * patterns are per-JVM singletons). Mirrors DuckDB's
  * `regexp_replace(trim(lower(strip_accents(nfc_normalize(x)))), ...)`
  * byte for byte on decomposable accents. */
object TextNormKernel {
  private val marks = java.util.regex.Pattern.compile("\\p{M}+")
  private val ws = java.util.regex.Pattern.compile("\\s+")

  def normalize(s: String): String = {
    import java.text.Normalizer
    val nfc = Normalizer.normalize(s, Normalizer.Form.NFC)
    val stripped = marks.matcher(
      Normalizer.normalize(nfc, Normalizer.Form.NFD)).replaceAll("")
    ws.matcher(stripped.toLowerCase(java.util.Locale.ROOT).trim)
      .replaceAll(" ")
  }

  def normalizeU(s: UTF8String): UTF8String =
    UTF8String.fromString(normalize(s.toString))
}

/** Content-defined chunk digests in ONE fused pass — the d17 100 TB
  * form: rolling 8-term polynomial over code points (constants below
  * are THE canonical CDC constants; the DuckDB oracle interpolates
  * them directly), boundary where hash ≡ 0 (mod 64), md5
  * hex digest per chunk. Value-identical to the declarative
  * per-position explode the oracle replays — this kernel exists
  * because that spelling materializes corpus-character-sized rows,
  * while this is one O(n) scan per document with chunk-count output. */
object CdcChunkDigests {
  val M: Long = 1000000007L
  val B: Long = 257L
  val pows: Array[Long] = {
    val a = new Array[Long](8)
    a(0) = 1L
    var k = 1
    while (k < 8) { a(k) = a(k - 1) * B % M; k += 1 }
    a
  }

  private val mdLocal: ThreadLocal[MessageDigest] =
    new ThreadLocal[MessageDigest] {
      override def initialValue(): MessageDigest =
        MessageDigest.getInstance("MD5")
    }

  private val hexDigits = "0123456789abcdef".toCharArray

  private def md5Hex(s: String): UTF8String = {
    val md = mdLocal.get()
    md.reset()
    val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val out = new Array[Char](32)
    var i = 0
    while (i < 16) {
      out(2 * i) = hexDigits((d(i) >> 4) & 0xf)
      out(2 * i + 1) = hexDigits(d(i) & 0xf)
      i += 1
    }
    UTF8String.fromString(new String(out))
  }

  def compute(s: UTF8String): org.apache.spark.sql.catalyst.util.ArrayData = {
    val str = s.toString
    // code points, so the polynomial matches ascii(substr(...)) on
    // both engines (corpus text is ASCII; parity holds regardless)
    val cps = new Array[Int](str.codePointCount(0, str.length))
    var i = 0
    var j = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      cps(j) = cp; j += 1; i += Character.charCount(cp)
    }
    val n = cps.length
    // boundary END indexes (0-based inclusive); always close at n-1
    var cuts = new Array[Int](8)
    var nc = 0
    var ie = 7
    while (ie < n) {
      var h = 0L
      var k = 0
      while (k < 8) { h += cps(ie - 7 + k).toLong * pows(k); k += 1 }
      if (h % M % 64 == 0) {
        if (nc == cuts.length) cuts = java.util.Arrays.copyOf(cuts, nc * 2)
        cuts(nc) = ie; nc += 1
      }
      ie += 1
    }
    if (nc == 0 || cuts(nc - 1) != n - 1) {
      if (nc == cuts.length) cuts = java.util.Arrays.copyOf(cuts, nc * 2 + 1)
      cuts(nc) = n - 1; nc += 1
    }
    val out = new Array[AnyRef](nc)
    var prev = -1
    var c = 0
    while (c < nc) {
      val end = cuts(c)
      out(c) = md5Hex(new String(cps, prev + 1, end - prev))
      prev = end
      c += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Σ round₉(p·ln p) over the code-point (order=1) or code-point-BIGRAM
  * (order=2) distribution of a string, as an exact 10⁻⁹ integer
  * ("nanos") — the Shannon-entropy kernel behind x37, fused into ONE
  * compiled pass (histogram by sorted-run counting over a primitive
  * key array; no per-position row explosion — the d17/CdcChunkDigests
  * posture, so text never shuffles and the corpus is scanned once).
  *
  * Cross-engine exactness contract: each gram's term p·ln p is rounded
  * HALF-UP (away from zero, the Spark `round`/DuckDB `ROUND` rule, via
  * the same canonical-string decimal expansion Spark's Round uses)
  * to 9 dp BEFORE accumulating, so summation order is irrelevant and
  * the oracle's order-free decimal SUM over identically-rounded terms
  * reproduces the long bit-for-bit (the x24/x32 round-9 device).
  * Entropy in bits derives OUTSIDE as nanos / -10⁹ / ln2-literal — two
  * IEEE ops on exactly-representable operands, replayed verbatim in
  * SQL. Empty/too-short input → 0 (matches the oracle's empty gram
  * set; a single repeated gram has p = 1, ln 1 = 0). */
object TextEntropyNanos {
  def compute(s: UTF8String, order: Int): Long = {
    val cps = s.toString.codePoints().toArray
    val n = if (order == 1) cps.length else cps.length - 1
    if (n <= 0) return 0L
    // gram keys: the code point itself, or (cp1 << 21) | cp2 — both
    // injective (code points fit 21 bits); sort + run-count beats a
    // hash map (no boxing, deterministic, one primitive array)
    val keys = new Array[Long](n)
    var i = 0
    while (i < n) {
      keys(i) =
        if (order == 1) cps(i).toLong
        else (cps(i).toLong << 21) | cps(i + 1).toLong
      i += 1
    }
    java.util.Arrays.sort(keys)
    val nd = n.toDouble
    var nanos = 0L
    var start = 0
    i = 1
    while (i <= n) {
      if (i == n || keys(i) != keys(start)) {
        val p = (i - start).toDouble / nd
        val term = p * Math.log(p)
        // valueOf (canonical-string expansion) + HALF_UP 9dp: the same
        // rounding Spark's round(col, 9) applies, which the strict
        // drives prove coincides with DuckDB's ROUND on these terms
        nanos += java.math.BigDecimal.valueOf(term)
          .setScale(9, java.math.RoundingMode.HALF_UP)
          .movePointRight(9).longValueExact()
        start = i
      }
      i += 1
    }
    nanos
  }
}
