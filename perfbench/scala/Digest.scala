package graftperf

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters

import java.nio.charset.StandardCharsets.UTF_8
import scala.util.hashing.MurmurHash3

/** Order-insensitive digest of a result: its row count plus the sum
  * (mod 2^64) of a canonical hash of every row.
  *
  * A row is canonicalised as in `graft.Verify.writeManifest`: columns
  * in name order; null as "null"; doubles and floats by their shortest
  * round-trip `toString`; binary as lowercase hex; everything else by
  * `toString`. Structs, arrays and maps are canonicalised element by
  * element so a double or binary value inside them renders the same
  * way. Timestamps render in the JVM zone, which the benchmark pins to
  * UTC. */
final case class Digest(rows: Long, hash: Long) {
  def +(o: Digest): Digest = Digest(rows + o.rows, hash + o.hash)
  def hex: String = f"$hash%016x"
  override def toString: String = s"$rows:$hex"
}

object Digest {
  val empty: Digest = Digest(0L, 0L)

  def norm(v: Any): String = v match {
    case null => "null"
    case d: Double => d.toString
    case f: Float => f.toString
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString
    case r: Row => r.toSeq.map(norm).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => norm(k) + "=" + norm(x) }.sorted.mkString("<", ",", ">")
    case s: scala.collection.Seq[_] => s.map(norm).mkString("[", ",", "]")
    case x => x.toString
  }

  /** 64-bit hash of one canonical row string. */
  def hashString(s: String): Long = {
    val b = s.getBytes(UTF_8)
    (MurmurHash3.bytesHash(b, 0x3c074a61).toLong << 32) |
      (MurmurHash3.bytesHash(b, 0x5bd1e995).toLong & 0xffffffffL)
  }

  /** Canonical hash of `row`, reading its fields in `order`. */
  def rowHash(row: Row, order: Array[Int]): Long =
    hashString(order.map(i => norm(row.get(i))).mkString("\u0001"))

  /** Field indices of `names` in name order; a stable sort keeps
    * duplicate column names in their schema order. */
  def order(names: Seq[String]): Array[Int] =
    names.zipWithIndex.sortBy(_._1).map(_._2).toArray

  /** The rows of `df`, read from its own physical plan rather than a
    * deserializing one, so a check runs the code a write of the same
    * frame runs. */
  def rows(df: DataFrame): RDD[Row] = {
    val schema = df.schema
    df.queryExecution.toRdd.mapPartitions { it =>
      val toRow = CatalystTypeConverters.createToScalaConverter(schema)
      it.map(r => toRow(r).asInstanceOf[Row])
    }
  }

  def of(df: DataFrame): Digest = {
    val ord = order(df.columns.toSeq)
    rows(df).mapPartitions { it =>
      var n = 0L
      var h = 0L
      it.foreach { r => n += 1; h += rowHash(r, ord) }
      Iterator(Digest(n, h))
    }.collect().foldLeft(empty)(_ + _)
  }

  def ofRows(rows: Seq[Row], names: Seq[String]): Digest = {
    val ord = order(names)
    rows.foldLeft(empty)((d, r) => d + Digest(1L, rowHash(r, ord)))
  }

  def parse(s: String): Digest = {
    val Array(n, h) = s.split(':')
    Digest(n.toLong, java.lang.Long.parseUnsignedLong(h, 16))
  }
}
