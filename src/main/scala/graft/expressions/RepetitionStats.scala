package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Gopher repetition counters for one normalized document, in one
  * compiled per-row pass: token count, count of the single most
  * frequent token, count of the most frequent bigram, and the
  * duplicate-5-gram fraction (Rae et al. 2021, table A1; reference
  * quality heuristics live in bertrand-adjacent pipeline lore, not the
  * type library — see TextAnalysis.repetitionSignals).
  *
  * Input is the NORMALIZED text (lowercased, whitespace collapsed to
  * single spaces, trimmed — [[NormalizeText]]); tokenization here is a
  * plain split on 0x20, byte-for-byte the `split(norm, " ")` column it
  * replaces (an empty string yields the single empty token, matching
  * Java/Spark split-with-limit=-1 and DuckDB string_split).
  *
  * Replaces an explode → groupBy(doc, gram) → groupBy(doc) → join-back
  * chain: per-document statistics never need a shuffle, and at corpus
  * scale the explode multiplied the shuffled row count by ~2× the token
  * count. One open-addressed pass per row is O(n_tok) time and memory
  * bounded by the document itself. */
object RepetitionKernel {

  /** The result type of [[compute]]. */
  val dataType: StructType = StructType(Seq(
    StructField("n_tok", IntegerType, nullable = false),
    StructField("top_tok", IntegerType, nullable = false),
    StructField("top_bi", IntegerType, nullable = false),
    StructField("dup5", DoubleType, nullable = false)))

  /** (n_tok, top_tok, top_bi, dup5) of a single-spaced document. */
  def compute(norm: UTF8String): InternalRow = {
    val toks: Array[String] = norm.toString.split(" ", -1)
    val n = toks.length

    val uni = new java.util.HashMap[String, Int]()
    var topTok = 0
    var i = 0
    while (i < n) {
      val c = uni.merge(toks(i), 1, (a, b) => a + b)
      if (c > topTok) topTok = c
      i += 1
    }

    var topBi = 0
    if (n >= 2) {
      val bi = new java.util.HashMap[String, Int]()
      i = 0
      while (i < n - 1) {
        val c = bi.merge(toks(i) + " " + toks(i + 1), 1, (a, b) => a + b)
        if (c > topBi) topBi = c
        i += 1
      }
    }

    var dup5 = 0.0
    if (n >= 5) {
      val total = n - 4
      val seen = new java.util.HashSet[String](total * 2)
      val sb = new java.lang.StringBuilder
      i = 0
      while (i < total) {
        sb.setLength(0)
        sb.append(toks(i)).append(' ').append(toks(i + 1)).append(' ')
          .append(toks(i + 2)).append(' ').append(toks(i + 3)).append(' ')
          .append(toks(i + 4))
        seen.add(sb.toString)
        i += 1
      }
      dup5 = 1.0 - seen.size.toDouble / total
    }

    new GenericInternalRow(Array[Any](n, topTok, topBi, dup5))
  }
}
