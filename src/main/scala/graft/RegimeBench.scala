package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Large-regime bench (dev tool, SCALING.md §large-regimes): forces
  * each documented model-state regime switch LIVE at a scaled SF and
  * records both cost and bit-identity, closing the "regimes are
  * spec-proven but not cost-proven" gap:
  *
  *  - pageRank: small (driver rank vector, broadcast probes) vs
  *    FORCED large (`Graphs.pageRankDistributed` — distributed ranks,
  *    shuffled equi-joins per round) on q59's supplier→customer graph;
  *    outputs compared for exact equality (GraphsSpec proves the
  *    semantics; this proves the COST and re-proves identity at SF).
  *  - IVF: nCells 16 (the s3 bench twin) vs 256 vs 1024 — the
  *    centroid model state the assignment kernel scans grows 64×, and
  *    so does the literal query-probe ranking; probe fan-out held at
  *    nProbe/nCells = 1/4.
  *  - k-means: k 8 (e3 twin) vs 256 at 3 Lloyd iterations — driver
  *    model state and the per-iteration k-row shuffle grow 32×.
  *
  * Usage: SPARK_GRAFT_SF_DIR=<dir> runMain graft.RegimeBench
  * Prints one JSON line and writes SPARK_GRAFT_BENCH_OUT
  * (default /tmp/bench_regime.json). */
object RegimeBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local("graft-regime-bench")

    def timeMin2(f: () => Unit): Double = {
      def once(): Double = {
        GraftSession.reset(spark)
        val t0 = System.nanoTime()
        f()
        (System.nanoTime() - t0) / 1e9
      }
      math.min(once(), once())
    }
    def settle(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    val results = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val checks = scala.collection.mutable.LinkedHashMap.empty[String, Boolean]

    // ---- pageRank small vs forced-large --------------------------------
    def edges: DataFrame = {
      val li = Tables.t(spark, sfDir, "lineitem")
        .select(col("l_suppkey").as("src"), col("l_orderkey").as("ok"))
      val o = Tables.t(spark, sfDir, "orders").select(
        col("o_orderkey").as("ok"), (col("o_custkey") + 1000000L).as("dst"))
      li.join(o, Seq("ok")).select("src", "dst")
    }
    results("pagerank_small") = timeMin2(() =>
      settle(graft.operators.Graphs.pageRank(edges, iters = 3)))
    results("pagerank_large_forced") = timeMin2(() =>
      settle(graft.operators.Graphs.pageRankDistributed(edges, iters = 3)))
    // live bit-identity at this SF (canonical string fold, order-free)
    def rankDigest(df: DataFrame): String = df
      .select(md5(concat_ws(":", col("node"), col("rank").cast("string"))).as("h"))
      .agg(sum(conv(substring(col("h"), 1, 8), 16, 10).cast("decimal(38,0)")))
      .head().get(0).toString
    checks("pagerank_regimes_identical") =
      rankDigest(graft.operators.Graphs.pageRank(edges, iters = 3)) ==
        rankDigest(graft.operators.Graphs.pageRankDistributed(edges, iters = 3))

    // ---- IVF model-state growth ----------------------------------------
    val emb = Tables.t(spark, sfDir, "embeddings")
    val queries = emb.filter(col("vec_id") < 5)
    for (nc <- Seq(16, 256, 1024)) {
      results(s"ivf_cells_$nc") = timeMin2(() =>
        settle(graft.operators.Similarity.ivfTopK(
          emb, queries, k = 10, nCells = nc, nProbe = math.max(4, nc / 4))))
    }
    checks("ivf_1024_rows") = graft.operators.Similarity.ivfTopK(
      emb, queries, k = 10, nCells = 1024, nProbe = 256).count() == 50L

    // ---- k-means large k -------------------------------------------------
    for (k <- Seq(8, 256)) {
      results(s"kmeans_k$k") = timeMin2(() =>
        settle(graft.operators.Clustering.kmeansAssign(
          emb, "vec_id", "embedding", k = k, iters = 3)))
    }
    checks("kmeans_256_clusters") = graft.operators.Clustering.kmeansAssign(
      emb, "vec_id", "embedding", k = 256, iters = 3)
      .select("cluster").distinct().count() > 200L

    val json = {
      val rs = results.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
        .mkString(",")
      val cs = checks.map { case (k, v) => "\"" + k + "\":" + v }.mkString(",")
      s"""{"metric":"regime_bench","sf":"$sfDir","times":{$rs},"checks":{$cs}}"""
    }
    println(json)
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "/tmp/bench_regime.json")),
      json + "\n")
    catch { case _: Throwable => () }
    spark.stop()
  }
}
