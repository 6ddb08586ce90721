package graft.expressions

import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.unsafe.types.UTF8String

/** The x46 hashed-classifier score fused into ONE compiled pass over
  * the token array: unigram + '_'-joined bigram features, the base-131
  * poly8 feature hash, the PRNG weight table, and the integer fold —
  * replacing an interpreted `aggregate(...)` HOF whose per-feature
  * subtree (8 × substring/ascii/pmod plus the weight chain) ran on the
  * interpreted expression path (ArrayAggregate is CodegenFallback), at
  * ~3 s/5k docs single-task in the bench.
  *
  * Bit-equal to the Column formulation in
  * [[graft.operators.HashClassifier]] (spec-pinned property test):
  *  - rpad(f, 8, ' ') truncates/pads in CODE POINTS (UTF8String
  *    semantics); `ascii(substring(p, k+1, 1))` is the k-th code point
  *    (Spark 4 Ascii = codePointAt(0)); pmod(cp, 256) = cp % 256 for
  *    the non-negative code point.
  *  - length(f) is numChars (code points).
  *  - all operands of the bucket/weight mods are non-negative, so
  *    pmod == %.
  *  - a null token makes the HOF fold null — mirrored by a null
  *    result. */
object HashClassifierScore {
  import graft.operators.HashClassifier._

  private val Underscore = UTF8String.fromString("_")

  /** weight(f) for one feature — the exact integer chain of
    * HashClassifier.weight ∘ bucket ∘ poly8. */
  private def weightOf(f: UTF8String): Long = {
    val s = f.toString
    val len = s.length // UTF-16 units; code points counted as we walk
    var poly = 0L
    var idx = 0 // UTF-16 index
    var nCp = 0L // code-point count (Spark length())
    var k = 0
    // first 8 code points of rpad(f, 8, ' '): walk the string's code
    // points, pad with ' ' (32) past the end
    while (k < 8) {
      var cp = 32
      if (idx < len) {
        cp = s.codePointAt(idx)
        idx += Character.charCount(cp)
        nCp += 1
      }
      poly += (cp.toLong % 256L) * CharPows(k)
      k += 1
    }
    // count the remaining code points (length(f) beyond the 8-window)
    while (idx < len) {
      idx += Character.charCount(s.codePointAt(idx))
      nCp += 1
    }
    val bucket = (poly + nCp * LenMix) % NumBuckets
    (bucket * WMul + WAdd) % WRange - WShift
  }

  /** Σ weight over unigrams then bigrams (the HOF fold order); null on
    * a null token (the HOF's null propagation). */
  def score(arr: ArrayData): java.lang.Long = {
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) return null
      i += 1
    }
    var acc = 0L
    i = 0
    while (i < n) {
      acc += weightOf(arr.getUTF8String(i))
      i += 1
    }
    i = 0
    while (i < n - 1) {
      acc += weightOf(UTF8String.concat(
        arr.getUTF8String(i), Underscore, arr.getUTF8String(i + 1)))
      i += 1
    }
    acc
  }
}
