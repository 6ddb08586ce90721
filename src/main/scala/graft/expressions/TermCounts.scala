package graft.expressions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** Per-row occurrence counts of a FIXED small term list in a token
  * array — the tf lane of query-side retrieval scoring (BM25). One pass
  * over the tokens ([[Kernels.termCounts]] calls [[compute]] on this
  * instance, which rides into generated code as a reference object), so
  * scoring a corpus against a query never explodes tokens into a
  * shuffle: docs that contain no query term are droppable row-locally,
  * which at corpus scale is almost all of them. */
case class TermCountsKernel(terms: Seq[String]) {

  require(terms.nonEmpty, "TermCountsKernel needs at least one term")

  private val termArr: Array[UTF8String] = terms.map(UTF8String.fromString).toArray

  /** counts(j) = |{ i : toks(i) == terms(j) }| — |terms| is query-sized
    * (a handful), so the inner scan beats any hash structure. */
  def compute(toks: ArrayData): ArrayData = {
    val counts = new Array[Int](termArr.length)
    val n = toks.numElements()
    var i = 0
    while (i < n) {
      val t = toks.getUTF8String(i)
      var j = 0
      while (j < termArr.length) {
        if (t != null && termArr(j).equals(t)) counts(j) += 1
        j += 1
      }
      i += 1
    }
    new GenericArrayData(counts)
  }
}
