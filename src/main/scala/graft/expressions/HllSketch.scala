package graft.expressions

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types._

/** md5-register HyperLogLog — a mergeable distinct-count sketch whose
  * every step replays in plain SQL, so the estimate itself (not just a
  * row count) can be DuckDB-oracled:
  *
  *  - value → lowercase-hex md5 of its string rendering (both engines
  *    have md5);
  *  - bucket = first 3 hex chars (p = 12 → m = 4096 registers);
  *  - rho = leading-zero count of the low 52 bits (hex chars 4–16)
  *    plus one — integer arithmetic, `53 - bitlength`, exact in SQL
  *    via `length(bin(x))`;
  *  - registers merge by MAX (the HLL merge; associative, map-side
  *    combinable);
  *  - estimate = αm·m²/Σ2^−M with the standard linear-counting
  *    small-range branch (Flajolet et al. 2007; the branch is chosen
  *    by the SAME comparison on both engines, and the float sums
  *    differ only in association order — a ROUND(·, 2) washes it).
  *
  * Spark's own `hll_sketch_agg` (DataSketches) is the interchangeable
  * built-in — same query shape, but its registers use xxhash/DataSketch
  * serialization no other engine can replay; this sketch trades a
  * slower hash (md5) for verifiability. Standard error ~1.04/√m ≈ 1.6%.
  */
object HllSketch {
  val P = 12
  val M: Int = 1 << P // 4096 registers

  /** α_m · m² for m = 4096 — computed once, embedded as the same
    * double literal in the SQL oracle. */
  val Alpha: Double = 0.7213 / (1.0 + 1.079 / M)

  def addValue(regs: Array[Byte], s: String): Unit = {
    val hex = {
      val d = MessageDigest.getInstance("MD5")
        .digest(s.getBytes(StandardCharsets.UTF_8))
      val sb = new java.lang.StringBuilder(32)
      var i = 0
      while (i < 16) {
        sb.append(Character.forDigit((d(i) >> 4) & 0xf, 16))
        sb.append(Character.forDigit(d(i) & 0xf, 16))
        i += 1
      }
      sb.toString
    }
    val bucket = Integer.parseInt(hex.substring(0, 3), 16)
    val low = java.lang.Long.parseLong(hex.substring(3, 16), 16) // 52 bits
    val rho: Int =
      if (low == 0L) 53
      else 53 - (64 - java.lang.Long.numberOfLeadingZeros(low))
    if (rho > regs(bucket)) regs(bucket) = rho.toByte
  }

  def merge(a: Array[Byte], b: Array[Byte]): Unit = {
    var j = 0
    while (j < a.length) { if (b(j) > a(j)) a(j) = b(j); j += 1 }
  }

  /** Non-mutating merge: the scalar union ([[Kernels.hllUnion]]). */
  def unionBlobs(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    val out = a.clone()
    merge(out, b)
    out
  }

  /** Register-order Σ2^−M (zeros contribute 2^0 = 1) then the standard
    * corrections — the SQL mirror groups the sum differently, hence
    * the caller-side ROUND(·, 2). */
  def estimate(regs: Array[Byte]): Double = {
    var denom = 0.0
    var zeros = 0
    var j = 0
    while (j < regs.length) {
      val r = regs(j)
      if (r == 0) { zeros += 1; denom += 1.0 }
      else denom += math.pow(2.0, -r.toDouble)
      j += 1
    }
    val raw = Alpha * M * M / denom
    if (raw <= 2.5 * M && zeros > 0) M * math.log(M.toDouble / zeros)
    else raw
  }
}

/** Aggregate: md5-HLL register array of the child column's string
  * rendering (cast to string BEFORE hashing so the SQL side can mirror
  * with md5(CAST(x AS VARCHAR))). */
case class HllSketchAgg(child: Expression,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Byte]] with UnaryLike[Expression] {

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_hll_sketch"

  override def createAggregationBuffer(): Array[Byte] = new Array[Byte](HllSketch.M)

  override def update(regs: Array[Byte], input: InternalRow): Array[Byte] = {
    val v = child.eval(input)
    if (v != null) HllSketch.addValue(regs, v.toString)
    regs
  }

  override def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    HllSketch.merge(a, b); a
  }

  override def eval(regs: Array[Byte]): Any = regs
  override def serialize(regs: Array[Byte]): Array[Byte] = regs
  override def deserialize(bytes: Array[Byte]): Array[Byte] = bytes

  override def withNewMutableAggBufferOffset(newOffset: Int): HllSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): HllSketchAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): HllSketchAgg =
    copy(child = newChild)
}
