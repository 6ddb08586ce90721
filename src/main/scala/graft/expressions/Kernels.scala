package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.objects.{Invoke, StaticInvoke}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.util.sketch.BloomFilter

/** The Column constructors of graft's kernels: one per kernel, naming
  * its method, its result type and its literal shape arguments once.
  *
  * A static kernel builds Spark's `StaticInvoke`, a kernel instance
  * (one whose constructor precomputes tables: MinHash coefficients,
  * LSH hyperplanes, a term list, a bloom filter) Spark's `Invoke` on
  * the instance as an object literal. Both run the SAME kernel method
  * on both evaluation paths — by reflection when a plan is interpreted
  * (exceptions unwrapped to the kernel's own), as one call
  * `graft.expressions.<Kernel>.<method>(...)` (or `<instance>.<method>`
  * on a reference object) inside whole-stage codegen. A null column
  * argument gives null without a call unless a constructor says
  * otherwise. A custom Catalyst `Expression` is only for an `ArrayData`
  * loop inlined into generated code whose shared-method form measured
  * slower (graft.expressions.ArrayDotProduct and its siblings). */
object Kernels {

  /** `kernel.method(args)` per row. `nullResult` marks a kernel whose
    * (boxed) result may itself be null; otherwise the column is null
    * exactly where an argument is, or never when `nullArgs` hands null
    * arguments to the kernel. */
  private def call(kernel: AnyRef, method: String, dataType: DataType,
      nullResult: Boolean = false, nullArgs: Boolean = false)(args: Column*): Column =
    ColumnBridge.column(StaticInvoke(kernel.getClass, dataType, method,
      args.map(ColumnBridge.expression), propagateNull = !nullArgs,
      returnNullable = nullResult))

  /** `target.method(args)` per row on an object literal; null where an
    * argument is. */
  private def invoke(target: Literal, method: String, dataType: DataType)(
      args: Column*): Column =
    ColumnBridge.column(Invoke(target, method, dataType,
      args.map(ColumnBridge.expression), returnNullable = false))

  /** A kernel instance as an object literal of its own class: a case
    * class, so plans holding equal instances stay equal. */
  private def instance(k: Product): Literal = Literal.fromObject(k, ObjectType(k.getClass))

  /** A literal shape argument. A Catalyst literal, not `lit`: the SQL
    * builders in graft.GraftExtensions hand the built expression
    * straight to the analyzer, which resolves no DataFrame-side nodes. */
  private def shape(v: Any): Column = ColumnBridge.column(Literal(v))

  private val longs = ArrayType(LongType, containsNull = false)

  // ---- typecast: detection, parses, integer rendering and division ----

  /** String → int64 in `base`, null when it does not parse or lies
    * outside [lo, hi] ([[IntegerKernel.parse]]). */
  def integerParse(s: Column, base: Int, lo: Long, hi: Long): Column =
    call(IntegerKernel, "parse", LongType, nullResult = true)(
      s, shape(base), shape(lo), shape(hi))

  /** An int64 column, null outside [lo, hi] ([[IntegerKernel.inRange]]). */
  def integerInRange(v: Column, lo: Long, hi: Long): Column =
    call(IntegerKernel, "inRange", LongType, nullResult = true)(v, shape(lo), shape(hi))

  /** Content-class bitmask of a string ([[DetectKernel.classify]]). */
  def detectClass(s: Column): Column = call(DetectKernel, "classify", IntegerType)(s)

  /** Timedelta string → int64 microseconds, null when unparseable
    * ([[TimedeltaKernel.compute]]). */
  def timedeltaParse(s: Column, asHours: Boolean): Column =
    call(TimedeltaKernel, "compute", LongType, nullResult = true)(s, shape(asHours))

  /** Complex literal → struct<re, im>, null when unparseable
    * ([[ComplexKernel.compute]]). */
  def complexParse(s: Column): Column =
    call(ComplexKernel, "compute", ComplexKernel.dataType, nullResult = true)(s)

  /** int64 → string in `base`, null for a base outside [2, 36]
    * ([[IntegerKernel.toBase]]). */
  def intToBase(v: Column, base: Int): Column =
    call(IntegerKernel, "toBase", StringType, nullResult = true)(v, shape(base))

  /** Exact int64 `a / b` under a rounding rule ([[RoundDiv.compute]]);
    * both operands must be LongType. Throws ArithmeticException on a
    * zero divisor and on Long.MinValue / -1. */
  def roundDiv(a: Column, b: Column, rule: String): Column = {
    val ruleId = RoundDiv.rules.indexOf(rule)
    require(ruleId >= 0, s"unknown rounding rule: $rule")
    call(RoundDiv, "compute", LongType)(a, b, shape(ruleId))
  }

  /** struct<subtype, v> of a mixed-type cell ([[ClassifyNumeric.compute]]). */
  def classifyNumeric(s: Column): Column =
    call(ClassifyNumeric, "compute", ClassifyNumeric.dataType)(s)

  // ---- text ------------------------------------------------------------

  /** Lowercased, whitespace-collapsed, trimmed text ([[NormalizeText.compute]]). */
  def normalizeText(s: Column): Column = call(NormalizeText, "compute", StringType)(s)

  /** NFC → accent strip → lowercase → whitespace collapse
    * ([[TextNormKernel.normalizeU]]). */
  def unicodeNormalize(s: Column): Column =
    call(TextNormKernel, "normalizeU", StringType)(s)

  /** Heuristic language code of raw + normalized text ([[TextHashKernels.langId]]). */
  def langId(raw: Column, norm: Column): Column =
    call(TextHashKernels, "langId", StringType)(raw, norm)

  /** Sorted distinct char n-gram hashes ([[TextHashKernels.charGrams]]). */
  def charGramHashes(s: Column, n: Int): Column =
    call(TextHashKernels, "charGrams", longs)(s, shape(n))

  /** Sorted distinct word w-shingle hashes of normalized text
    * ([[TextHashKernels.wordShingles]]). */
  def wordShingleHashes(norm: Column, w: Int): Column =
    call(TextHashKernels, "wordShingles", longs)(norm, shape(w))

  /** Minimum md5-prefix w-shingle fingerprint of normalized text
    * ([[ShingleMinMd5.compute]]). */
  def shingleMinMd5(norm: Column, w: Int): Column =
    call(ShingleMinMd5, "compute", LongType)(norm, shape(w))

  /** Per-token md5-prefix hashes, in token order ([[ShingleMinMd5.tokenHashes]]). */
  def tokenMd5Hashes(norm: Column): Column =
    call(ShingleMinMd5, "tokenHashes", longs)(norm)

  /** DSIR md5 buckets of every unigram and bigram ([[ShingleMinMd5.dsirGramBuckets]]). */
  def dsirGramBuckets(s: Column, buckets: Int): Column =
    call(ShingleMinMd5, "dsirGramBuckets", ArrayType(IntegerType, containsNull = false))(
      s, shape(buckets))

  /** Bottom-k md5-prefix char n-gram sketch ([[ShingleMinMd5.charGramKmv]]). */
  def charGramKmv(s: Column, n: Int, k: Int): Column =
    call(ShingleMinMd5, "charGramKmv", longs)(s, shape(n), shape(k))

  /** Gopher repetition counters of normalized text ([[RepetitionKernel.compute]]). */
  def repetitionStats(norm: Column): Column =
    call(RepetitionKernel, "compute", RepetitionKernel.dataType)(norm)

  /** Content-defined chunk md5 digests ([[CdcChunkDigests.compute]]). */
  def cdcChunkDigests(s: Column): Column =
    call(CdcChunkDigests, "compute", ArrayType(StringType, containsNull = false))(s)

  /** Σ round₉(p·ln p) of the order-1/2 code-point distribution as 10⁻⁹
    * integer nanos ([[TextEntropyNanos.compute]]). */
  def textEntropyNanos(s: Column, order: Int): Column =
    call(TextEntropyNanos, "compute", LongType)(s, shape(order))

  /** Hashed-classifier score of a token array, null on a null token
    * ([[HashClassifierScore.score]]). */
  def hashClassifierScore(toks: Column): Column =
    call(HashClassifierScore, "score", LongType, nullResult = true)(toks)

  // ---- hash arrays, LSH and sketches -----------------------------------

  /** `h`-permutation MinHash signature of a shingle-hash array
    * ([[MinHashKernel.compute]]). */
  def minhash(shingles: Column, h: Int): Column =
    invoke(instance(MinHashKernel(h)), "compute", longs)(shingles)

  /** LSH band keys of a MinHash signature: `bands` keys of `h/bands`
    * rows each ([[MinHashKernel.bandKeys]]); a null signature hashes as
    * an empty one, so the column is never null. */
  def bandKeys(sig: Column, h: Int, bands: Int): Column =
    call(MinHashKernel, "bandKeys", longs, nullArgs = true)(sig, shape(h / bands), shape(bands))

  /** Banded sign-LSH keys of an array<double> ([[SignLshKernel.compute]]). */
  def signLshBands(v: Column, bits: Int, bands: Int, dim: Int): Column =
    invoke(instance(SignLshKernel(bits, bands, dim)), "compute", longs)(v)

  /** Per-row occurrence counts of `terms` in a token array
    * ([[TermCountsKernel.compute]]). */
  def termCounts(toks: Column, terms: Seq[String]): Column =
    invoke(instance(TermCountsKernel(terms)), "compute",
      ArrayType(IntegerType, containsNull = false))(toks)

  /** Bloom-filter membership of a key cast to bigint. The literal is
    * typed as the public `BloomFilter`: generated code cannot name its
    * package-private implementation class. */
  def bloomMightContain(bloom: BloomFilter, key: Column): Column =
    invoke(Literal.fromObject(bloom, ObjectType(classOf[BloomFilter])), "mightContainLong",
      BooleanType)(key.cast(LongType))

  /** 64-bit SimHash of a token-hash array ([[SimHash64.compute]]). */
  def simHash64(hashes: Column): Column = call(SimHash64, "compute", LongType)(hashes)

  /** a ∩ b of two sorted distinct array<bigint> ([[SortedLongArrayIntersect.intersect]]). */
  def sortedIntersect(a: Column, b: Column): Column =
    call(SortedLongArrayIntersect, "intersect", longs)(a, b)

  /** Distinct-count estimate of an HLL register blob ([[HllSketch.estimate]]). */
  def hllEstimate(sketch: Column): Column = call(HllSketch, "estimate", DoubleType)(sketch)

  /** Register-wise MAX union of two HLL blobs ([[HllSketch.unionBlobs]]). */
  def hllUnion(a: Column, b: Column): Column = call(HllSketch, "unionBlobs", BinaryType)(a, b)

  /** Distinct-count estimate of a theta sketch blob ([[KmvSketch.estimate]]). */
  def thetaEstimate(sketch: Column): Column = call(KmvSketch, "estimate", DoubleType)(sketch)

  /** Union of two theta sketch blobs of one k ([[KmvSketch.unionSketch]]). */
  def thetaUnion(a: Column, b: Column): Column =
    call(KmvSketch, "unionSketch", BinaryType)(a, b)

  /** Intersection-cardinality estimate of two theta sketch blobs
    * ([[KmvSketch.intersectEstimate]]). */
  def thetaIntersect(a: Column, b: Column): Column =
    call(KmvSketch, "intersectEstimate", DoubleType)(a, b)

  // ---- inlined array loops ---------------------------------------------

  private def loop(e: Expression): Column = ColumnBridge.column(e)
  private def arg(c: Column): Expression = ColumnBridge.expression(c)

  /** |a ∩ b| of two sorted distinct array<bigint> ([[SortedLongArrayIntersectCount]]). */
  def sortedIntersectCount(a: Column, b: Column): Column =
    loop(SortedLongArrayIntersectCount(arg(a), arg(b)))

  /** v[i]·v[j] for i ≤ j, row-major, of an array<double> ([[UpperTriOuterProduct]]). */
  def upperTriOuter(v: Column): Column = loop(UpperTriOuterProduct(arg(v)))

  /** `array(d, cid)` of the centroid nearest to an array<double> `v` by
    * the euclidean rank d = ip(c, c) − 2·ip(v, c)
    * ([[NearestCentroidEuclid]]), over `cents` = (cid, centroid) pairs.
    * ip(c, c) is [[graft.operators.VectorOps.selfDot]], summed once
    * here. Ties go to the smaller cid, so the result equals
    * `array_min(array(struct(d, cid) …))` over the same centroids; a
    * null `v` gives null. One difference: a row whose every rank is NaN
    * gives (+∞, Long.MaxValue), where that struct-min gives the
    * smallest cid. */
  def nearestCentroid(v: Column, cents: Array[(Long, Array[Double])]): Column =
    loop(NearestCentroidEuclid(arg(v), cents.map(_._2), cents.map(_._1),
      cents.map(c => graft.operators.VectorOps.selfDot(c._2))))

  /** `array(−cos, cid)` of the centroid nearest to `v` by cosine
    * ([[NearestCentroidCosine]]): d = −ip(v, c)/(nv·‖c‖), 0.0 when that
    * norm product is 0; `nv` is the row's precomputed norm column, ‖c‖
    * = √[[graft.operators.VectorOps.selfDot]] summed once here. Ties,
    * nulls and all-NaN rows as in [[nearestCentroid]]. */
  def nearestCentroidCosine(v: Column, nv: Column,
      cents: Array[(Long, Array[Double])]): Column =
    loop(NearestCentroidCosine(arg(v), arg(nv), cents.map(_._2), cents.map(_._1),
      cents.map(c => math.sqrt(graft.operators.VectorOps.selfDot(c._2)))))
}
