package graft.expressions

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native Catalyst dot product over two `array<double>` columns.
  *
  * The HOF formulation (`aggregate(zip_with(a, b, *), 0, +)`) runs
  * interpreted — per-element virtual calls and a materialized zipped
  * array per row. This expression generates a tight primitive loop
  * inside whole-stage codegen instead (~20× on pairwise-scoring plans).
  *
  * Summation is sequential left-to-right — bit-identical to the HOF
  * version and to engines evaluating the same formula (oracle parity).
  */
case class ArrayDotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  // inputs are cast to array<double> by the Column builder
  // (VectorOps.dot); no analysis-time coercion needed
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += a.getDouble(i) * b.getDouble(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""
         |int ${ev.value}_n = Math.min($a.numElements(), $b.numElements());
         |double ${ev.value}_s = 0.0;
         |for (int ${ev.value}_i = 0; ${ev.value}_i < ${ev.value}_n; ${ev.value}_i++) {
         |  ${ev.value}_s += $a.getDouble(${ev.value}_i) * $b.getDouble(${ev.value}_i);
         |}
         |${ev.value} = ${ev.value}_s;
       """.stripMargin)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ArrayDotProduct =
    copy(left = newLeft, right = newRight)
}

/** Intersection ELEMENTS of two SORTED `array<bigint>` columns via a
  * merge scan — the content-returning sibling of
  * [[SortedLongArrayIntersectCount]]. `array_intersect` builds a hash
  * set per evaluation (per-row garbage that thrashes GC on
  * million-row adjacency joins — triangleCounts' close); the merge
  * allocates exactly one primitive buffer sized to the result. Same
  * contract: pre-sorted, distinct elements. */
object SortedLongArrayIntersect {
  def intersect(a: ArrayData, b: ArrayData): ArrayData = {
    val n = a.numElements(); val m = b.numElements()
    val buf = new Array[Long](math.min(n, m))
    var i = 0; var j = 0; var c = 0
    while (i < n && j < m) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { buf(c) = x; c += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    new GenericArrayData(
      if (c == buf.length) buf else java.util.Arrays.copyOf(buf, c))
  }
}

/** Intersection cardinality of two SORTED `array<bigint>` columns via a
  * merge scan — O(n+m) primitive comparisons in generated code, versus
  * `size(array_intersect(...))` building a hash set per evaluation.
  * Callers must pre-sort (e.g. `array_sort` once in a persisted base
  * relation); elements must be distinct for set semantics. */
case class SortedLongArrayIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_sorted_intersect_count"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    var i = 0; var j = 0; var c = 0
    val n = a.numElements(); val m = b.numElements()
    while (i < n && j < m) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { c += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""
         |int ${ev.value}_i = 0, ${ev.value}_j = 0, ${ev.value}_c = 0;
         |int ${ev.value}_n = $a.numElements(), ${ev.value}_m = $b.numElements();
         |while (${ev.value}_i < ${ev.value}_n && ${ev.value}_j < ${ev.value}_m) {
         |  long ${ev.value}_x = $a.getLong(${ev.value}_i);
         |  long ${ev.value}_y = $b.getLong(${ev.value}_j);
         |  if (${ev.value}_x == ${ev.value}_y) { ${ev.value}_c++; ${ev.value}_i++; ${ev.value}_j++; }
         |  else if (${ev.value}_x < ${ev.value}_y) ${ev.value}_i++;
         |  else ${ev.value}_j++;
         |}
         |${ev.value} = ${ev.value}_c;
       """.stripMargin)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedLongArrayIntersectCount =
    copy(left = newLeft, right = newRight)
}

/** MinHash signature of a shingle-hash array: `h` minima under `h`
  * seeded universal-hash permutations (a_i·x + b_i over Z/2^64), in ONE
  * loop ([[Kernels.minhash]] calls [[compute]] on this instance). The
  * coefficients are drawn once, in the constructor. */
case class MinHashKernel(h: Int, seed: Long = 42L) {

  // odd multipliers → bijective permutations of Z/2^64
  private val (as, bs) = {
    val r = new java.util.Random(seed)
    (Array.fill(h)(r.nextLong() | 1L), Array.fill(h)(r.nextLong()))
  }

  def compute(arr: ArrayData): ArrayData = {
    val m = Array.fill(h)(Long.MaxValue)
    val n = arr.numElements()
    var j = 0
    while (j < n) {
      val sh = arr.getLong(j)
      var i = 0
      while (i < h) {
        val p = as(i) * sh + bs(i)
        if (p < m(i)) m(i) = p
        i += 1
      }
      j += 1
    }
    new GenericArrayData(m)
  }
}

object MinHashKernel {
  /** LSH band keys of a MinHash signature: `bands` bands of `rows`
    * rows, each hashed to one bucket key in ONE loop
    * ([[Kernels.bandKeys]]). Band b's key is exactly
    * `xxhash64(slice(sig, b*rows + 1, rows), b)` (seed 42, the array's
    * elements then the band number, a null signature hashing as an
    * empty one), so it replaces that `bands`-wide Column array without
    * changing a key. */
  def bandKeys(sig: ArrayData, rows: Int, bands: Int): ArrayData = {
    val n = if (sig == null) 0 else sig.numElements()
    val keys = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var k = 42L
      var i = b * rows
      val end = math.min(i + rows, n)
      while (i < end) { k = XXH64.hashLong(sig.getLong(i), k); i += 1 }
      keys(b) = XXH64.hashInt(b, k)
      b += 1
    }
    new GenericArrayData(keys)
  }
}

/** 64-bit SimHash of a token-hash array: one loop over the tokens
  * accumulating ±1 per bit. */
object SimHash64 {
  def compute(arr: ArrayData): Long = {
    val counts = new Array[Int](64)
    val n = arr.numElements()
    var j = 0
    while (j < n) {
      val t = arr.getLong(j)
      var i = 0
      while (i < 64) {
        if (((t >>> i) & 1L) == 1L) counts(i) += 1 else counts(i) -= 1
        i += 1
      }
      j += 1
    }
    var out = 0L
    var i = 0
    while (i < 64) { if (counts(i) > 0) out |= (1L << i); i += 1 }
    out
  }
}

/** Banded sign-LSH signature for cosine-similarity blocking: `bands`
  * band keys, each packing `bits` hyperplane signs (Charikar 2002),
  * over seeded deterministic Gaussian hyperplanes — one pass
  * ([[Kernels.signLshBands]] calls [[compute]] on this instance).
  *
  * OR-amplified banding (collide in ANY band → candidate): with `bits`
  * large the per-band random-pair collision rate is 2^-bits, while a
  * near-dup pair at per-bit agreement p is missed by ALL bands with
  * probability (1-p^bits)^bands — driven to ~1e-8 for dedup-grade
  * thresholds (cos ≥ 0.9) at bits=16, bands=32. */
case class SignLshKernel(bits: Int, bands: Int, dim: Int, seed: Long = 42L) {

  // flat (bits·bands × dim) row-major Gaussian hyperplanes, drawn once
  private val planes: Array[Double] = {
    val r = new java.util.Random(seed)
    Array.fill(bits * bands * dim)(r.nextGaussian())
  }

  def compute(v: ArrayData): ArrayData = {
    val n = math.min(v.numElements(), dim)
    val keys = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var key = 0L
      var i = 0
      while (i < bits) {
        val off = (b * bits + i) * dim
        var s = 0.0
        var d = 0
        while (d < n) { s += v.getDouble(d) * planes(off + d); d += 1 }
        if (s >= 0.0) key |= (1L << i)
        i += 1
      }
      keys(b) = key
      b += 1
    }
    new GenericArrayData(keys)
  }
}
