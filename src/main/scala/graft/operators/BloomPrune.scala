package graft.operators

import graft.expressions.Kernels
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

/** Manual runtime filtering: build a bloom over the small/filtered
  * side's join key, prune the fact side BEFORE its shuffle, then run
  * the exact join. At 100 TB this is the difference between shuffling
  * the whole fact table and shuffling only the ~selectivity fraction
  * that can possibly match — the same rewrite Catalyst's
  * InjectRuntimeFilter performs when stats make the win obvious; this
  * operator is the explicit handle for when they don't (filtered
  * subqueries, non-catalog sources, forced pipelines).
  *
  * Exactness: blooms admit false positives but never false negatives,
  * so `prune → exact join` returns exactly the unpruned join's rows —
  * the oracle is the plain join. `fpp` only tunes how much of the fact
  * side survives to the shuffle. */
object BloomPrune {

  /** The bloom for `keys`' single bigint column — one distributed
    * aggregation job (mergeable bitsets, driver holds the OR). */
  def buildLongBloom(keys: DataFrame, keyCol: String,
      expectedItems: Long, fpp: Double = 0.01): BloomFilter =
    keys.stat.bloomFilter(keyCol, expectedItems, fpp)

  /** fact ⋉ dim with the fact side bloom-pruned before the shuffle.
    * The dim key is renamed internally, so factKey == dimKey (the
    * common same-name join shape) resolves unambiguously. */
  def semiJoinPruned(fact: DataFrame, dim: DataFrame,
      factKey: String, dimKey: String,
      expectedItems: Long, fpp: Double = 0.01): DataFrame = {
    val bloom = buildLongBloom(dim.select(dimKey), dimKey, expectedItems, fpp)
    val dimKeys = dim.select(col(dimKey).as("__bloom_dim_key"))
    fact.filter(Kernels.bloomMightContain(bloom, col(factKey)))
      .join(dimKeys, col(factKey) === col("__bloom_dim_key"), "left_semi")
  }
}
