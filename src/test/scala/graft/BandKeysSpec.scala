package graft

import graft.expressions.Kernels
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The native LSH band keys must equal the Column form they replaced,
  * `bands` calls of `xxhash64(slice(sig, b*r + 1, r), b)`. */
class BandKeysSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("BandKeys == xxhash64(slice) per band on random signatures") {
    val r = new scala.util.Random(11)
    // full-length signatures plus short, empty and null ones
    val sigs: Seq[Option[Seq[Long]]] =
      Seq.fill(300)(Some(Seq.fill(64)(r.nextLong()))) ++
        Seq(Some(Seq.fill(5)(r.nextLong())), Some(Seq.empty[Long]), None)
    // a local relation folds through `eval`, an RDD scan runs codegen
    for (df <- Seq(sigs.toDF("sig"), spark.sparkContext.parallelize(sigs, 2).toDF("sig"));
        (h, bands) <- Seq(64 -> 32, 64 -> 16, 64 -> 64, 60 -> 7)) {
      val rows = h / bands
      val column = array((0 until bands).map(b =>
        xxhash64(slice($"sig", b * rows + 1, rows), lit(b))): _*)
      val got = df.select(Kernels.bandKeys($"sig", h, bands).as("k"), column.as("c")).collect()
      got.zip(sigs).foreach { case (row, sig) =>
        assert(row.getSeq[Long](0) == row.getSeq[Long](1), s"h=$h bands=$bands sig=$sig")
      }
    }
  }
}
