package graft

import graft.llm.LlmQueries
import graft.operators.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Spark-side certification of d20_exact_substrings on duplication
  * regimes where the DuckDB pair replay is infeasible (the dup_k10
  * shards: one 5000-member bit-identical group makes the d20 report
  * ~12.5M pairs — the r11 strict drive's DuckDB replay died on it
  * with no output while d22's grouped replay passed in 4.6 s).
  *
  * The certificate is the ExactSubstrSpec expansion equality, run AT
  * SCALE as a distributed job instead of a driver-side collect:
  *
  *   expand(exactSubstringSpansGrouped(C))  ==multiset==
  *     exactSubstringSpans(C)
  *
  * over d20's exact planted corpus C, with the expansion done by the
  * grouped operator's four documented multiplicity rules (cross,
  * within, mirror, full-doc — scaladoc on
  * [[graft.operators.Dedup.exactSubstringSpansGrouped]]). Combined
  * with the DuckDB strict PASS of d22 (the grouped form) on the same
  * shards, this certifies d20 end-to-end without ever materializing
  * the quadratic pair set inside a single-process oracle: DuckDB
  * pins the grouped report; this job pins grouped == pair-form.
  *
  * Both sides are engine output, so the equality is not a tautology:
  * the pair form runs the gram join over ALL documents (df² in
  * duplicate mass) while the grouped form joins representatives only
  * — independent physical plans whose agreement is exactly the claim
  * the dup axis needs.
  *
  * Usage: runMain graft.CertifyDup <sfDir> <outJson>
  * Prints one JSON line and writes it to outJson. */
object CertifyDup {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outJson) = args.take(2)
    val spark = GraftSession.local("graft-certify-dup")
    val t0 = System.nanoTime()

    val corpus = LlmQueries.d20Corpus(spark, sfDir)
    val full = Dedup.exactSubstringSpans(corpus, "doc_id", "text", 13)
    val grouped =
      Dedup.exactSubstringSpansGrouped(corpus, "doc_id", "text", 13)

    // membership: same normalization + grouping the grouped operator
    // uses (rep = min id over the sha2(normText) identity group)
    val norm = corpus.select(col("doc_id").cast("long").as("id"),
      sha2(Dedup.normText(col("text")), 256).as("dg"))
    val reps = norm.groupBy("dg").agg(min("id").as("rep"))
    val mem = norm.join(reps, Seq("dg")).select(col("id"), col("rep"))

    // expansion by the grouped operator's documented rules
    val cross = grouped.filter(col("id_a") =!= col("id_b"))
      .join(mem.toDF("xa", "id_a"), Seq("id_a"))
      .join(mem.toDF("xb", "id_b"), Seq("id_b"))
      .select(
        least(col("xa"), col("xb")).as("id_a"),
        greatest(col("xa"), col("xb")).as("id_b"),
        when(col("xa") < col("xb"), col("start_a"))
          .otherwise(col("start_b")).as("start_a"),
        when(col("xa") < col("xb"), col("start_b"))
          .otherwise(col("start_a")).as("start_b"),
        col("span_tokens"))
    val self = grouped.filter(col("id_a") === col("id_b"))
    // every member carries the within-doc span (start_a < start_b)
    val withinSelf = self.filter(col("start_a") < col("start_b"))
      .join(mem.toDF("x", "id_a"), Seq("id_a"))
      .select(col("x").as("id_a"), col("x").as("id_b"),
        col("start_a"), col("start_b"), col("span_tokens"))
    // every DISTINCT member pair carries every self row (within,
    // mirror, full-doc alike) in the row's own orientation
    val memPairs = mem.toDF("pa", "rep")
      .join(mem.toDF("pb", "rep"), Seq("rep"))
      .filter(col("pa") < col("pb"))
      .select(col("rep").as("id_a"), col("pa"), col("pb"))
    val selfPairs = self.join(memPairs, Seq("id_a"))
      .select(col("pa").as("id_a"), col("pb").as("id_b"),
        col("start_a"), col("start_b"), col("span_tokens"))
    val expanded = cross.unionByName(withinSelf).unionByName(selfPairs)

    val nFull = full.count()
    val nExp = expanded.count()
    val nPairsSum = grouped.agg(sum("n_pairs")).head.getLong(0)
    val aMinusB = expanded.exceptAll(full).count()
    val bMinusA = full.exceptAll(expanded).count()
    val ok = nFull == nExp && nFull == nPairsSum &&
      aMinusB == 0L && bMinusA == 0L
    val sec = (System.nanoTime() - t0) / 1e9
    val json =
      s"""{"query":"d20_exact_substrings","method":"d22_expansion_equality",""" +
      s""""sfDir":"$sfDir","status":"${if (ok) "pass" else "fail"}",""" +
      s""""n_pair_rows":$nFull,"n_expanded":$nExp,"n_pairs_sum":$nPairsSum,""" +
      s""""expanded_minus_full":$aMinusB,"full_minus_expanded":$bMinusA,""" +
      s""""sec":${math.round(sec * 10) / 10.0}}"""
    println(s"[certify-dup] $json")
    java.nio.file.Files.write(java.nio.file.Paths.get(outJson),
      json.getBytes("UTF-8"))
    spark.stop()
    if (!ok) sys.exit(1)
  }
}
