package graft

import graft.expressions._
import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.graft.ColumnBridge

/** SparkSessionExtensions entry point: registers graft's native
  * expressions as SQL functions so `spark.sql` users get them too:
  *
  * {{{
  * SparkSession.builder().withExtensions(new GraftExtensions)...
  * // or spark.sql.extensions=graft.GraftExtensions
  * spark.sql("SELECT graft_dot(a.v, b.v) FROM ...")
  * }}}
  *
  * [[GraftExtensions.register]] does the same on an existing session
  * (temp functions) for environments that can't set the conf. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
    // optimizer rule: auto-broadcast registered bounded dimensions
    ext.injectOptimizerRule(graft.plans.AutoBroadcastDims(_))
  }
}

object GraftExtensions {

  private def info(name: String, usage: String) =
    new ExpressionInfo("graft", null, name, usage, "")

  private def unary(name: String)(mk: Expression => Expression)
      : Seq[Expression] => Expression = {
    case Seq(a) => mk(a)
    case es => throw new IllegalArgumentException(
      s"$name requires 1 argument, got ${es.length}")
  }

  private def binary(name: String)(mk: (Expression, Expression) => Expression)
      : Seq[Expression] => Expression = {
    case Seq(a, b) => mk(a, b)
    case es => throw new IllegalArgumentException(
      s"$name requires exactly 2 arguments, got ${es.length}")
  }

  /** A [[Kernels]] Column constructor over Catalyst arguments. */
  private def kernel(f: Column => Column): Expression => Expression =
    e => ColumnBridge.expression(f(ColumnBridge.column(e)))
  private def kernel(f: (Column, Column) => Column): (Expression, Expression) => Expression =
    (a, b) => ColumnBridge.expression(f(ColumnBridge.column(a), ColumnBridge.column(b)))
  private def kernelWithInt(f: (Column, Int) => Column): (Expression, Int) => Expression =
    (e, n) => ColumnBridge.expression(f(ColumnBridge.column(e), n))

  /** Extract a literal int argument (for kernel shape parameters like
    * shingle width or signature length — they size the kernel's
    * tables and parameterize generated code, so they must be literals
    * in [1, Int.MaxValue]). */
  private def litInt(name: String, e: Expression): Int = {
    val v = e match {
      case Literal(v: Int, _) => v.toLong
      case Literal(v: Long, _) => v
      case other => throw new IllegalArgumentException(
        s"$name expects a literal integer parameter, got $other")
    }
    if (v < 1 || v > Int.MaxValue) throw new IllegalArgumentException(
      s"$name expects an integer parameter in [1, ${Int.MaxValue}], got $v")
    v.toInt
  }

  private def unaryWithInt(name: String, default: Int)(
      mk: (Expression, Int) => Expression): Seq[Expression] => Expression = {
    case Seq(a) => mk(a, default)
    case Seq(a, n) => mk(a, litInt(name, n))
    case es => throw new IllegalArgumentException(
      s"$name requires 1-2 arguments, got ${es.length}")
  }

  val functions: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    ("graft_dot",
      info("graft_dot", "graft_dot(a, b) - dot product of two array<double>"),
      binary("graft_dot")(ArrayDotProduct)),
    ("graft_sorted_intersect_count",
      info("graft_sorted_intersect_count",
        "graft_sorted_intersect_count(a, b) - |a ∩ b| for sorted array<bigint>"),
      binary("graft_sorted_intersect_count")(SortedLongArrayIntersectCount)),
    ("graft_sorted_intersect",
      info("graft_sorted_intersect",
        "graft_sorted_intersect(a, b) - a ∩ b elements for sorted array<bigint>"),
      binary("graft_sorted_intersect")(kernel(Kernels.sortedIntersect _))),
    ("graft_minhash",
      info("graft_minhash",
        "graft_minhash(shingle_hashes[, h]) - h-permutation MinHash signature"),
      unaryWithInt("graft_minhash", 64)(kernelWithInt(Kernels.minhash(_, _)))),
    ("graft_simhash",
      info("graft_simhash", "graft_simhash(token_hashes) - 64-bit SimHash"),
      unary("graft_simhash")(kernel(Kernels.simHash64 _))),
    ("graft_char_grams",
      info("graft_char_grams",
        "graft_char_grams(text[, n]) - sorted distinct char n-gram hashes"),
      unaryWithInt("graft_char_grams", 3)(kernelWithInt(Kernels.charGramHashes))),
    ("graft_word_shingles",
      info("graft_word_shingles",
        "graft_word_shingles(normalized_text[, w]) - sorted distinct word shingle hashes"),
      unaryWithInt("graft_word_shingles", 3)(kernelWithInt(Kernels.wordShingleHashes))),
    ("graft_shingle_min_md5",
      info("graft_shingle_min_md5",
        "graft_shingle_min_md5(normalized_text[, w]) - min md5-prefix shingle fingerprint"),
      unaryWithInt("graft_shingle_min_md5", 3)(kernelWithInt(Kernels.shingleMinMd5))),
    ("graft_lang_id",
      info("graft_lang_id",
        "graft_lang_id(raw_text, normalized_text) - heuristic language code"),
      binary("graft_lang_id")(kernel(Kernels.langId _))),
    // aggregates: the analyzer wraps a bare AggregateFunction into its
    // AggregateExpression, so these work in GROUP BY queries directly
    ("graft_theta_sketch",
      info("graft_theta_sketch",
        "graft_theta_sketch(col[, k]) - KMV theta sketch blob (agg)"),
      unaryWithInt("graft_theta_sketch", 1024)((e, k) => ThetaSketchAgg(e, k))),
    ("graft_theta_estimate",
      info("graft_theta_estimate",
        "graft_theta_estimate(sketch) - distinct estimate of a theta sketch"),
      unary("graft_theta_estimate")(kernel(Kernels.thetaEstimate _))),
    ("graft_theta_union",
      info("graft_theta_union", "graft_theta_union(a, b) - sketch union blob"),
      binary("graft_theta_union")(kernel(Kernels.thetaUnion _))),
    ("graft_theta_intersect",
      info("graft_theta_intersect",
        "graft_theta_intersect(a, b) - intersection-cardinality estimate"),
      binary("graft_theta_intersect")(kernel(Kernels.thetaIntersect _))),
    ("graft_hll_sketch",
      info("graft_hll_sketch",
        "graft_hll_sketch(col) - md5-register HLL blob (agg); hash the " +
          "column's string rendering"),
      // cast-to-string first, like operators.Sketches.hllSketch —
      // HllSketchAgg renders the CATALYST value, which for e.g.
      // timestamps is a raw long without the cast
      unary("graft_hll_sketch")(a => HllSketchAgg(
        org.apache.spark.sql.catalyst.expressions.Cast(a,
          org.apache.spark.sql.types.StringType)))),
    ("graft_hll_estimate",
      info("graft_hll_estimate",
        "graft_hll_estimate(sketch) - distinct estimate of an HLL blob"),
      unary("graft_hll_estimate")(kernel(Kernels.hllEstimate _))),
    ("graft_hll_union",
      info("graft_hll_union",
        "graft_hll_union(a, b) - register-wise MAX union of two HLL blobs"),
      binary("graft_hll_union")(kernel(Kernels.hllUnion _))),
    ("graft_vec_mean",
      info("graft_vec_mean",
        "graft_vec_mean(array<double>) - elementwise mean (agg)"),
      unary("graft_vec_mean")(VectorMeanAgg(_))),
    ("graft_top_k",
      info("graft_top_k",
        "graft_top_k(score, id, k) - bounded-heap top-k (agg): " +
          "array<struct<id,score>> ranked by score desc, id asc"), {
        case Seq(s, i, kLit) => TopKAgg(s, i, litInt("graft_top_k", kLit))
        case es => throw new IllegalArgumentException(
          s"graft_top_k requires 3 arguments, got ${es.length}")
      }),
    ("graft_freq_items",
      info("graft_freq_items",
        "graft_freq_items(item, k, n) - Misra-Gries k-counter frequent " +
          "items (agg): top-n array<struct<item,cnt>>, cnt desc, item asc"), {
        case Seq(e, kLit, nLit) => FreqItemsAgg(e,
          litInt("graft_freq_items", kLit), litInt("graft_freq_items", nLit))
        case es => throw new IllegalArgumentException(
          s"graft_freq_items requires 3 arguments, got ${es.length}")
      }),
  )

  /** Register on a live session (temp-function variant). */
  def register(spark: SparkSession): Unit =
    functions.foreach { case (name, _, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "scala_udf")
    }
}
