package graft.expressions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types._

/** KMV ("k minimum values") theta sketch: keeps the k smallest distinct
  * 64-bit hashes of the input. Mergeable (union = k smallest of the
  * concatenation), fixed size, and — unlike HLL — supports SET
  * OPERATIONS: intersection/difference estimates from the kept-hash
  * overlap below the common threshold θ. The tool for dataset-overlap
  * questions at 100 TB ("how many training docs do source A and B
  * share?") where exact distinct-joins are a full shuffle of all keys.
  *
  * Estimator: with u_(k) the kth smallest hash mapped to [0,1),
  * est = (k-1)/u_(k); exact when fewer than k distinct values seen.
  */
class KmvBuffer(val k: Int) {
  // unsigned ordering over hashes; TreeSet gives dedup + max eviction
  val set: java.util.TreeSet[java.lang.Long] =
    new java.util.TreeSet[java.lang.Long]((a: java.lang.Long, b: java.lang.Long) =>
      java.lang.Long.compareUnsigned(a, b))

  def add(h: Long): Unit = {
    if (set.size < k) { set.add(h); () }
    else if (java.lang.Long.compareUnsigned(h, set.last) < 0) {
      if (set.add(h)) set.pollLast()
      ()
    }
  }

  def merge(other: KmvBuffer): KmvBuffer = {
    val it = other.set.iterator()
    while (it.hasNext) add(it.next())
    this
  }
}

object KmvSketch {
  /** hash → (0,1]: unsigned 64-bit value scaled by 2^-64. */
  private def unit(h: Long): Double =
    (h >>> 11).toDouble * (1.0 / (1L << 53).toDouble) + 1e-18

  def serialize(b: KmvBuffer): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 + 8 * b.set.size)
    bb.putInt(b.k).putInt(b.set.size)
    val it = b.set.iterator()
    while (it.hasNext) bb.putLong(it.next())
    bb.array()
  }

  def deserialize(bytes: Array[Byte]): KmvBuffer = {
    val bb = ByteBuffer.wrap(bytes)
    val k = bb.getInt
    val n = bb.getInt
    val buf = new KmvBuffer(k)
    var i = 0
    while (i < n) { buf.set.add(bb.getLong); i += 1 }
    buf
  }

  private def hashesOf(bytes: Array[Byte]): (Int, Array[Long]) = {
    val bb = ByteBuffer.wrap(bytes)
    val k = bb.getInt
    val n = bb.getInt
    val out = new Array[Long](n)
    var i = 0
    while (i < n) { out(i) = bb.getLong; i += 1 }
    (k, out) // ascending unsigned (serialized from the TreeSet)
  }

  def estimate(bytes: Array[Byte]): Double = {
    val (k, h) = hashesOf(bytes)
    if (h.length < k) h.length.toDouble
    else (k - 1).toDouble / unit(h(k - 1))
  }

  def unionSketch(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    val ka = ByteBuffer.wrap(a).getInt
    val merged = deserialize(a)
    require(ByteBuffer.wrap(b).getInt == ka, "theta union: differing k")
    serialize(merged.merge(deserialize(b)))
  }

  /** |A ∩ B| estimate: common hashes below the shared threshold θ
    * (the smaller of the two kth-minimums), scaled by 1/θ. */
  def intersectEstimate(a: Array[Byte], b: Array[Byte]): Double = {
    val (ka, ha) = hashesOf(a)
    val (kb, hb) = hashesOf(b)
    val thetaA = if (ha.length < ka) 1.0 else unit(ha(ka - 1))
    val thetaB = if (hb.length < kb) 1.0 else unit(hb(kb - 1))
    val theta = math.min(thetaA, thetaB)
    var i = 0; var j = 0; var common = 0
    while (i < ha.length && j < hb.length) {
      val c = java.lang.Long.compareUnsigned(ha(i), hb(j))
      if (c == 0) {
        if (unit(ha(i)) <= theta) common += 1
        i += 1; j += 1
      } else if (c < 0) i += 1
      else j += 1
    }
    common.toDouble / theta
  }
}

/** Aggregate: theta sketch of the child column (any hashable type —
  * hashed with the same xxhash64 family as Spark's own hash exprs). */
case class ThetaSketchAgg(child: Expression, k: Int = 1024,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[KmvBuffer] with UnaryLike[Expression] {

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_theta_sketch"

  override def createAggregationBuffer(): KmvBuffer = new KmvBuffer(k)

  override def update(buffer: KmvBuffer, input: InternalRow): KmvBuffer = {
    val v = child.eval(input)
    if (v != null) buffer.add(XxHash64Function.hash(v, child.dataType, 42L))
    buffer
  }

  override def merge(buffer: KmvBuffer, other: KmvBuffer): KmvBuffer =
    buffer.merge(other)

  override def eval(buffer: KmvBuffer): Any = KmvSketch.serialize(buffer)

  override def serialize(buffer: KmvBuffer): Array[Byte] = KmvSketch.serialize(buffer)
  override def deserialize(bytes: Array[Byte]): KmvBuffer = KmvSketch.deserialize(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): ThetaSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): ThetaSketchAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): ThetaSketchAgg =
    copy(child = newChild)
}
