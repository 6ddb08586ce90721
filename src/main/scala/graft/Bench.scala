package graft

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line with per-query seconds.
  *
  * Timing materializes the full result through the noop sink (count()
  * would let Catalyst prune sorts/projections and under-measure). */
object Bench {

  /** The artifact's aggregate view of N raw passes, extracted so the
    * failure-marker path is unit-testable (it had never seen a real
    * failure in a committed artifact): per-query MIN over SUCCESSFUL
    * passes; a query with zero successful passes keeps its fastest
    * (failing) time in the per-query map — visible, never hidden — but
    * is EXCLUDED from the headline `total` (a crash timing is not a
    * cost; blending it in would let the aggregate read as green) and
    * named in `failedAll`. `spread` is max − min over the SAME passes
    * the min was taken from — the noise made self-documenting, so a
    * per-query regression can be read against that query's own
    * run-to-run swing instead of burning a round chasing host noise
    * (the r9→r10 s6/p6/t46 watchlist lesson). */
  private[graft] case class Folded(results: Seq[(String, Double)],
      total: Double, failedAny: Seq[String], failedAll: Seq[String],
      spread: Seq[(String, Double)])

  private[graft] def fold(names: Seq[String],
      raw: Seq[Seq[(String, (Double, Boolean))]]): Folded = {
    val perQuery = names.map { n =>
      val rs = raw.map(_.toMap.apply(n))
      val good = rs.filter(_._2).map(_._1)
      val used = if (good.nonEmpty) good else rs.map(_._1)
      (n, used.min, used.max - used.min)
    }
    val results = perQuery.map { case (n, mn, _) => n -> mn }
    val failedAny = names.filter(n => raw.exists(p => !p.toMap.apply(n)._2))
    val failedAll = names.filter(n => raw.forall(p => !p.toMap.apply(n)._2))
    val dead = failedAll.toSet
    Folded(results,
      results.collect { case (n, v) if !dead(n) => v }.sum,
      failedAny, failedAll,
      perQuery.map { case (n, _, sp) => n -> sp })
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local("graft-bench")
    // JVM/codegen warmup so the first measured query isn't charged for it
    SparkEntry.queries("q1_agg")(spark, sfDir).write
      .format("noop").mode("overwrite").save()
    // optional args: subset of query names (dev iteration; driver passes none)
    val only = args.flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty).toSet
    val picked = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.isEmpty || only(n) }
    // min-of-N protocol: the host swings ~1.4x run-to-run with
    // per-query spikes that MIGRATE between runs (r7: a 30 s
    // q57_golden_record that re-measures at 0.9 s) — a single pass is
    // not an interpretable artifact. Default min-of-THREE (raised
    // from 2 in r11: two rounds of watchlist chasing dissolved as
    // noise; a third pass plus the per-query spread field makes the
    // noise self-documenting); all raw passes are persisted so the
    // noise itself stays visible.
    // clamp to >= 1 and survive non-numeric values (an empty raw pass
    // list would .min-throw after the warm-up already ran)
    val passes = math.max(1, sys.env.get("SPARK_GRAFT_BENCH_PASSES")
      .flatMap(_.toIntOption).getOrElse(3))
    def runPass(): Seq[(String, (Double, Boolean))] = picked.map { case (name, fn) =>
      // drop predecessors' persisted blocks (the dedup pipelines cache
      // multi-consumer relations); a forced per-query System.gc() is
      // opt-in only (SPARK_GRAFT_BENCH_GC=1) — measured at sf0.1 it
      // not only costs ~0.4 s/query outside the window but bleeds GC
      // churn INTO the next measurement (total 179 s -> 120 s without)
      GraftSession.reset(spark)
      if (sys.env.get("SPARK_GRAFT_BENCH_GC").contains("1")) System.gc()
      val t0 = System.nanoTime()
      // a pass that throws is recorded as FAILED, not silently timed:
      // under min-of-N a fast crash would otherwise masquerade as the
      // query's honest cost in a committed artifact
      val ok =
        try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          true
        } catch { case _: Throwable => false }
      name -> ((System.nanoTime() - t0) / 1e9, ok)
    }
    val raw = (1 to passes).map(_ => runPass())
    val names = picked.map(_._1)
    val folded = fold(names, raw)
    val (results, total) = (folded.results, folded.total)
    def jmap(m: Seq[(String, Double)]): String =
      m.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    def jarr(xs: Seq[String]): String =
      xs.map("\"" + _ + "\"").mkString("[", ",", "]")
    val rawTotals = raw.map(_.map(_._2._1).sum)
    // pass 1 is COLD: the single-query warm-up above primes the JVM,
    // not 263 queries' worth of codegen/JIT — measured full-registry
    // raw pass 1 runs ~2× the warm passes (r12: 638 s vs 315/328 s).
    // Min-of-N absorbs it, but the artifact labels it so a raw_totals
    // reader (or a future single-pass run) doesn't misread the cold
    // factor as a regression.
    val coldField = if (passes >= 2) ""","cold_first_pass":true""" else ""
    val failField =
      if (folded.failedAny.isEmpty) ""
      else s""","failed_any_pass":${jarr(folded.failedAny)},"failed_all_passes":${jarr(folded.failedAll)}"""
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":${jmap(results)},"sf":"$sfDir","passes":$passes,"raw_totals":[${rawTotals.mkString(",")}]$coldField$failField}"""
    println(line)
    // The stdout line gets truncated in round artifacts (2000-char
    // tails lose most of the per-query map) — persist the full JSON
    // (per-query min + every raw pass) to a file so every timing
    // survives verbatim. Dev --only runs write to /tmp so they can
    // never clobber a committed full-registry artifact (the r7
    // BENCH_full.json lesson).
    val defaultOut =
      if (only.isEmpty) "BENCH_full.json" else "/tmp/graft_bench_only.json"
    // The round driver runs the bench at TWO core counts and each run
    // used to overwrite BENCH_full.json, destroying the other's full
    // per-query record (r13: the 8-core scaling run clobbered the
    // 32-core record). Tag a second copy with the core count so both
    // survive; BENCH_full.json stays for readers of the old path.
    val cpuTaggedOut =
      if (only.isEmpty) Some(s"BENCH_full_c${GraftSession.cpus}.json") else None
    val full = line.dropRight(1) +
      s""","spread":${jmap(folded.spread)}""" +
      raw.zipWithIndex.map { case (p, i) =>
        s""","pass${i + 1}":${jmap(p.map { case (k, (v, _)) => k -> v })}"""
      }.mkString + "}"
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", defaultOut)
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(outPath), full + "\n")
    catch { case _: Throwable => () }
    cpuTaggedOut.foreach { p =>
      try java.nio.file.Files.writeString(
        java.nio.file.Paths.get(p), full + "\n")
      catch { case _: Throwable => () }
    }
    // The contract line above is ~15 KB at 263 queries; the round
    // driver keeps only a 2000-char stdout TAIL, so its parse has
    // returned null in every round to date (PERF_r*.json: totals null,
    // per_query empty). Print a short summary line LAST — guaranteed
    // to fit the tail whole — with the headline numbers and a pointer
    // to the full per-query dump on disk.
    val shortLine =
      s"""{"metric":"total","value":$total,"unit":"sec","sf":"$sfDir","passes":$passes,"raw_totals":[${rawTotals.mkString(",")}],"n_queries":${names.size}$failField,"full":"${cpuTaggedOut.getOrElse(outPath)}","summary_of":"$outPath"}"""
    println(shortLine)
    spark.stop()
  }
}
