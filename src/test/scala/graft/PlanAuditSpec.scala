package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan regression guards: the properties that make these
  * plans survive a 100× scale-up, asserted so a refactor can't silently
  * lose them. */
class PlanAuditSpec extends AnyFunSuite {
  import TestSpark._

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  // queries whose nested-loop joins are INTENTIONAL: a broadcast cross
  // of a tiny probe/query/centroid relation against the corpus scan,
  // or q33's 1-row × 1-row sketch cross
  // each of these scans the corpus once against a BROADCAST tiny side
  // (query set / probe set) by design — the nested loop is the intended
  // "stream the big side" shape, not an accident. s5's ADC scan joins
  // the compressed corpus against broadcast query LUTs the same way.
  // x11/x13 cross-join ONE broadcast row of corpus statistics into the
  // scan — the canonical "stats ride along" shape
  private val nestedLoopOk =
    Set("s1_ann_brute", "s4_quant_cosine", "s3_ann_ivf", "q33_theta_overlap",
      "s5_ann_pq", "x11_bm25", "x13_unigram_ppl", "x21_tfidf",
      "x22_bigram_ppl", "t31_cut_qcut", "x24_kl_drift",
      "e7_ann_recall", // composes s1's broadcast brute cross
      "q62_zorder", // ONE broadcast row of min/max extents rides the scan
      "s6_hybrid_rrf", // composes x11's stats-row cross + s1's brute cross
      "e10_ivf_recall_sweep", // 4× s3 probe crosses + s1 brute + 1-row count joins
      "e21_graph_recall_sweep", // s1 brute cross + 1-row count joins (the e10 shape)
      "d16_lsh_band_sweep", // sample-local all-pairs truth cross + 1-row count joins
      "e11_matryoshka_sweep", // 5× s1-shape brute crosses + 1-row count joins
      "q68_session_cooccurrence", // ONE broadcast row of the session total rides the pair table
      "e12_kmeans_ari", // 1-row stat crosses over the k²-sized contingency table
      "x29_stratified_split", // 1-row total/leftover crosses over the strata table
      "p7_leakage_free_split", // x29's 1-row total/leftover crosses over the strata table
      "p6_curation_funnel", // ONE broadcast row of the corpus total rides the 5-row stage table
      "q77_graph_profile", // three 1-row aggregates (counts/moments/triangles) cross into one datasheet row
      "x42_ccnet_buckets", // composes x13's stats-row cross (the perplexity scoring stage)
      "p4_corpus_datasheet", // ONE broadcast row of the token total rides the per-lang table
      "x32_source_drift_matrix", // sparse sweeps ride a broadcast S-row profile (source ≠ source NLJ) + 1-row vocab-count crosses — the dense vocab×sources grid is gone
      "x33_vocab_growth", // ONE broadcast row of id bounds rides the scan (twice)
      "x35_good_turing", // ONE broadcast row of the token total rides the ≤10-row grid
      "p5_mixing_plan", // U and T* scalars ride 1-row crosses over the source table
      "e17_hubness", // ONE broadcast row of moment sums rides the degree histogram
      "d18_bloom_dedup", // ONE broadcast row of bits_set rides the per-source summary
      "x40_kneser_ney", // ONE broadcast row of the bigram-type total rides the scoring join
      "x41_ndcg", // composes x11's stats-row cross; curves are ≤k-row TakeOrdered cuts
      "t66_merge_validate") // two 1-row dup-summary aggregates cross per pair — the x30 device

  // The round-7 lesson, pinned as a standing guard: the driver's
  // hash-compare only provably round-trips plain scalar types (the 11
  // round-6 failures were all DuckDB HUGEINT at the oracle's output
  // position). Both sides of the gate stay on this boundary — the
  // oracle side is swept by tools (CAST AS BIGINT everywhere); this
  // pins the SPARK side: no Decimal/Float/Array/Struct/Map ever
  // reaches a registered query's output schema.
  test("output schemas stay on the driver-comparable type boundary") {
    import org.apache.spark.sql.types._
    SparkEntry.queries.foreach { case (name, fn) =>
      fn(spark, sf).schema.fields.foreach { f =>
        val ok = f.dataType match {
          case LongType | IntegerType | ShortType | ByteType | DoubleType |
               StringType | BooleanType | DateType | TimestampType |
               TimestampNTZType => true
          case _ => false
        }
        assert(ok, s"$name.${f.name}: ${f.dataType} crosses the gate boundary")
      }
    }
  }

  // Queries whose plans contain an UNPARTITIONED window — a global
  // window funnels every row into ONE task, fatal at corpus scale, so
  // each entry documents the bound that makes it safe (the input is a
  // derived table whose size is fixed by construction, never
  // corpus-proportional). This is the standing answer to the
  // `WindowExec: No Partition Defined` warnings Verify logs: they are
  // bounded by construction, enumerated and guarded here. Windows are
  // collected from the terminal plan AND from every frame the query
  // settled while it was built (Settle.capture records each frame's
  // plan from before its checkpoint), so an eager settle cannot hide
  // a global window from this audit.
  private val globalWindowOk: Map[String, String] = Map(
    "q16_groupagg_topk" -> "rank over the 20-row TakeOrderedAndProject result",
    "x33_vocab_growth" -> "cumulative sums over the fixed 20-bucket growth curve",
    "x29_stratified_split" -> "remainder ranking over the lang×source strata table",
    "p7_leakage_free_split" -> "x29's remainder ranking over the lang×source strata table",
    "p6_curation_funnel" -> "cumulative drop fold over the 5-row stage table",
    "x35_good_turing" -> "adjacent-count lookup over the r<=maxR count-of-counts grid",
    "s6_hybrid_rrf" -> "fused-score rank over the per-query k-bounded candidate union",
    "t51_factorize" -> "first-appearance codes over the event-type-cardinality dictionary",
    "t16_sparse" -> "dictionary codes over the distinct-value table (categorical contract)",
    "t26_sparse_compute" -> "dictionary codes over the distinct-value table (categorical contract)",
    "t46_sparse_categorical" -> "dictionary codes over the distinct-value table (categorical contract)",
    "x41_ndcg" -> "rank + cumulative-DCG windows over the two ≤20-row TakeOrdered cuts")

  test("unpartitioned windows only over provably bounded inputs") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val offenders = SparkEntry.queries.keys.toSeq.sorted.filter { name =>
      val (df, settled) = Settle.capture(SparkEntry.queries(name)(spark, sf))
      (df.queryExecution.optimizedPlan +: settled.map(_.plan)).exists(
        _.collect { case w: LWindow if w.partitionSpec.isEmpty => w }.nonEmpty)
    }.toSet
    val undocumented = offenders -- globalWindowOk.keySet
    val stale = globalWindowOk.keySet -- offenders
    assert(undocumented.isEmpty,
      s"undocumented global windows (add a bound justification): $undocumented")
    assert(stale.isEmpty,
      s"allowlist entries with no global window anymore: $stale")
  }

  test("no query plan contains a cartesian product") {
    SparkEntry.queries.keys.foreach { name =>
      assert(!plan(name).contains("CartesianProduct"),
        s"$name has a cartesian product")
    }
  }

  test("nested-loop joins only where a broadcast tiny side is intended") {
    SparkEntry.queries.keys.filterNot(nestedLoopOk).foreach { name =>
      assert(!plan(name).contains("BroadcastNestedLoopJoin"),
        s"$name has an unexpected nested-loop join")
    }
  }

  test("filters and projections reach the parquet scan") {
    val p2 = plan("q2_filter_project")
    assert(p2.contains("PushedFilters: ["), s"q2 lost pushdown:\n$p2")
    assert(p2.contains("GreaterThan") || p2.contains("LessThan") ||
      p2.contains("EqualTo"), s"q2 pushed no predicate:\n$p2")
    val p6 = plan("q6_scan_agg")
    assert(p6.contains("PushedFilters: ["), s"q6 lost pushdown:\n$p6")
  }

  test("dimension joins broadcast the small side") {
    assert(plan("q3_join_agg").contains("BroadcastHashJoin"))
    assert(plan("q5_multi_join").contains("BroadcastHashJoin"))
  }

  test("ANN per-query top-k stays aggregate-based — no Window node") {
    // the row_number window form funnels every candidate of a query
    // into one task; TopKAgg keeps the reduce side O(partitions × k).
    // This guard stops a refactor from silently reintroducing it.
    Seq("s1_ann_brute", "s2_ann_lsh", "s3_ann_ivf", "s5_ann_pq").foreach { name =>
      val p = plan(name)
      assert(!p.contains("Window"), s"$name reintroduced a window top-k")
    }
  }

  test("pipeline ops broadcast their small sides: d7 eval grams, x10 rates, x13 vocab") {
    // each of these joins a corpus-scale relation against a tiny
    // derived relation — the tiny side must broadcast, never shuffle
    // the corpus
    Seq("d7_decontaminate", "x10_mixture_sample", "x13_unigram_ppl").foreach { name =>
      val p = plan(name)
      assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
        s"$name lost its broadcast:\n$p")
    }
  }

  test("q45 MERGE joins broadcast the CDC batch — snapshot never shuffles") {
    val p = plan("q45_merge_upsert")
    assert(p.contains("BroadcastHashJoin"), s"q45 lost its broadcasts:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"q45 shuffles the snapshot side:\n$p")
  }

  test("q46 last-per-bucket is a mergeable aggregate; only the fill is a window") {
    val p = plan("q46_resample_ffill")
    // exactly one Window (the per-user forward fill); the per-(user,day)
    // last-value must stay a hash aggregate with map-side partials
    assert(p.sliding("Window".length).count(_ == "Window") == 1,
      s"q46 grew a second window (per-bucket last?):\n$p")
    assert(p.contains("HashAggregate"), s"q46 lost its aggregate:\n$p")
  }

  test("x19 reuses the cached doc-bucket table for fit and score") {
    val p = plan("x19_dsir")
    assert(p.contains("InMemoryTableScan"),
      s"x19 recomputes the gram pipeline instead of reusing the cache:\n$p")
  }

  test("native as-of join plans its custom exec with SMJ layout") {
    val p = plan("q29_asof_native")
    assert(p.contains("AsOfJoin"), s"custom exec missing:\n$p")
  }

  test("AutoBroadcastDims rule broadcasts bounded dims when stats cannot") {
    // disable the stats-based broadcast path entirely: without the
    // injected optimizer rule this join would be sort-merge
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val n = spark.read.parquet(s"$sf/nation.parquet")
      val c = spark.read.parquet(s"$sf/customer.parquet")
      val joined = c.join(n, c("c_nationkey") === n("n_nationkey"))
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("BroadcastHashJoin"),
        s"bounded-dim join did not broadcast under threshold=-1:\n$p")
      // the rule must not touch a non-registered table pair
      val o = spark.read.parquet(s"$sf/orders.parquet")
      val p2 = c.join(o, c("c_custkey") === o("o_custkey"))
        .queryExecution.executedPlan.toString
      assert(!p2.contains("BroadcastHashJoin"),
        s"fact-fact join broadcast unexpectedly:\n$p2")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("AutoBroadcastDims size guard fails open past the cap") {
    import graft.plans.AutoBroadcastDims
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val saved = AutoBroadcastDims.maxBroadcastBytes
    AutoBroadcastDims.maxBroadcastBytes = 1L // every scan now "too big"
    try {
      val n = spark.read.parquet(s"$sf/nation.parquet")
      val c = spark.read.parquet(s"$sf/customer.parquet")
      val p = c.join(n, c("c_nationkey") === n("n_nationkey"))
        .queryExecution.executedPlan.toString
      assert(!p.contains("BroadcastHashJoin"),
        s"registered dim force-broadcast despite exceeding the size cap:\n$p")
    } finally {
      AutoBroadcastDims.maxBroadcastBytes = saved
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("e1 broadcasts its label-cardinality centroids; e2 stays join-free") {
    val p1 = plan("e1_embed_outliers")
    assert(p1.contains("BroadcastHashJoin") || p1.contains("BroadcastExchange"),
      s"e1 centroid join lost its broadcast:\n$p1")
    val p2 = plan("e2_random_projection")
    assert(!p2.contains("Join"), s"e2 projection grew a join:\n$p2")
  }

  test("k-means assignment is map-only: literal centroids, no join, no shuffle") {
    // the returned frame must be scan → project — centroids ride as
    // plan literals, never as a joined relation
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val p = graft.operators.Clustering
      .kmeansAssign(emb, "vec_id", "embedding", k = 4, iters = 1)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Join"), s"k-means assignment grew a join:\n$p")
    assert(!p.contains("Exchange"), s"k-means assignment shuffles:\n$p")
  }

  test("d10 pairs stay within cells: equi-join on cell, no window, no cartesian") {
    val p = plan("d10_semantic_dedup")
    assert(!p.contains("Window"), s"d10 grew a window:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), s"d10 lost its equi-join:\n$p")
  }

  test("q36 bloom probe runs before the join, inside the scan stage") {
    val p = plan("q36_bloom_semijoin")
    assert(p.contains(".mightContainLong("),
      s"q36 lost its bloom probe:\n$p")
    // the probe must appear as a Filter on the fact side, not after the join
    val probeIdx = p.indexOf(".mightContainLong(")
    val joinIdx = math.max(p.indexOf("SortMergeJoin"),
      math.max(p.indexOf("ShuffledHashJoin"), p.indexOf("BroadcastHashJoin")))
    assert(joinIdx >= 0, s"q36 has no equi-join:\n$p")
    assert(probeIdx > joinIdx,
      s"bloom probe not under the join subtree (tree prints top-down):\n$p")
  }

  test("q37's five window functions share ONE partition shuffle") {
    // same partitionBy/orderBy → Spark fuses the window expressions;
    // only the final global orderBy adds a range exchange on top
    val p = plan("q37_window_fns")
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashExchanges == 1,
      s"q37 expected exactly 1 window shuffle, got $hashExchanges:\n$p")
  }

  test("q44 group top-k is aggregate-based — no Window node") {
    val p = plan("q44_group_topk_agg")
    assert(!p.contains("Window"), s"q44 reintroduced a window top-k:\n$p")
    assert(p.contains("graft_top_k"), s"q44 lost its TopKAgg:\n$p")
  }

  test("q60 histogram build broadcasts ranges; no sort touches the fact scan") {
    val p = plan("q60_sketch_quantiles")
    // both range joins (bucket assignment + quantile read) broadcast
    // the 3-row stats frame — the fact table must never shuffle for them
    assert(p.contains("BroadcastHashJoin"), s"q60 lost its broadcasts:\n$p")
    // the only Sorts allowed are over the histogram (cells per group)
    // and the 3-row output — i.e. BELOW an aggregate of the fact scan,
    // never directly over the parquet scan (tree prints top-down, so
    // a fact-scan sort would put "Sort" immediately above the scan)
    val scanIdx = p.indexOf("FileScan parquet")
    val sortAboveScan = p.lastIndexOf("Sort", scanIdx) match {
      case -1 => false
      case i => !p.substring(i, scanIdx).contains("HashAggregate")
    }
    assert(!sortAboveScan, s"q60 sorts the fact scan:\n$p")
  }

  test("q63 interval merge: windows + both folds share ONE user shuffle") {
    // sweep windows are (user_id)-partitioned; the (user_id, island)
    // groupBy and the final user_id groupBy are both satisfied by the
    // same hash partitioning — any second hash exchange means the
    // single-shuffle claim in SURVEY §2 R63 regressed
    val p = plan("q63_interval_merge")
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashExchanges == 1,
      s"q63 expected exactly 1 hash shuffle, got $hashExchanges:\n$p")
    assert(!p.contains("Join"), s"q63 grew a join:\n$p")
  }

  test("t48 expanding: every column rides ONE user window shuffle") {
    val p = plan("t48_expanding")
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashExchanges == 1,
      s"t48 expected exactly 1 window shuffle, got $hashExchanges:\n$p")
  }

  test("q64 weighted median: ONE window shuffle; the group totals ride a broadcast") {
    // the cumulative window and the qualifier groupBy share one
    // (flag, status) hash shuffle; the per-group totals are a tiny
    // map-side-combined aggregate whose own exchange sits under the
    // BroadcastExchange that carries it back — no second window pass
    val p = plan("q64_weighted_median")
    val lines = p.linesIterator.toVector
    def depth(i: Int): Int = lines(i).indexWhere(_.isLetter)
    def underBroadcast(i: Int): Boolean =
      (i - 1 to 0 by -1).foldLeft((depth(i), false)) { case ((d, hit), j) =>
        if (hit || depth(j) >= d) (d, hit)
        else (depth(j), lines(j).substring(depth(j)).startsWith("BroadcastExchange"))
      }._2
    val (inBroadcast, shuffles) = lines.indices
      .filter(lines(_).contains("Exchange hashpartitioning"))
      .partition(underBroadcast)
    assert(shuffles.size == 1,
      s"q64 expected exactly 1 window shuffle, got ${shuffles.size}:\n$p")
    assert(inBroadcast.size == 1,
      s"q64 expected the totals exchange under a broadcast, got ${inBroadcast.size}:\n$p")
    assert("Window \\[".r.findAllIn(p).size == 1, s"q64 expected ONE window pass:\n$p")
  }

  test("t52 rolling median: every column rides ONE user window shuffle") {
    val p = plan("t52_rolling_median")
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashExchanges == 1,
      s"t52 expected exactly 1 window shuffle, got $hashExchanges:\n$p")
  }

  test("t50 MAD outliers: median tables broadcast back — events never re-sort") {
    val p = plan("t50_mad_outliers")
    assert(p.contains("BroadcastHashJoin"), s"t50 lost its broadcasts:\n$p")
    assert(!p.contains("Window"), s"t50 grew a window over the events:\n$p")
  }

  test("t51 factorize: the dictionary window never touches the events") {
    // one hash shuffle for the event_type aggregation; the ranking and
    // total windows run AFTER it, over value-cardinality rows
    val p = plan("t51_factorize")
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashExchanges == 1,
      s"t51 expected exactly 1 hash shuffle (the groupBy), got $hashExchanges:\n$p")
  }

  test("x26 C4 filters are one map pass — no shuffle before the sort") {
    val p = plan("x26_c4_filters")
    assert(!p.contains("Exchange hashpartitioning"),
      s"x26 grew a shuffle:\n$p")
    assert(!p.contains("Join"), s"x26 grew a join:\n$p")
  }

  test("x25 weighted sample: xi is map-side; one group-key window shuffle") {
    val p = plan("x25_weighted_sample")
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashExchanges == 1,
      s"x25 expected exactly 1 window shuffle, got $hashExchanges:\n$p")
    assert(!p.contains("Join"), s"x25 grew a join:\n$p")
  }

  test("t53 OHLC: one mergeable groupBy shuffle, no window over the events") {
    val p = plan("t53_resample_ohlc")
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashExchanges == 1,
      s"t53 expected exactly 1 groupBy shuffle, got $hashExchanges:\n$p")
    assert(!p.contains("Window"), s"t53 grew a window over the events:\n$p")
    assert(p.contains("partial_min") || p.contains("partial"),
      s"t53 lost its map-side partials:\n$p")
  }

  test("q66 TWAP: the lead window and the user groupBy share ONE shuffle") {
    val p = plan("q66_twap")
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashExchanges == 1,
      s"q66 expected exactly 1 user-key shuffle, got $hashExchanges:\n$p")
    assert(!p.contains("Join"), s"q66 grew a join:\n$p")
  }

  test("q65 skyline: local prune shuffle-free; dedup + frontier = 2 shuffles") {
    // exchange 1 = the (brand, price, size) dedup groupBy; exchange 2 =
    // the brand-key global-frontier window. The per-partition prune
    // between them (sortWithinPartitions + mapPartitions) must add NO
    // exchange — that's the property that keeps only local frontiers
    // moving at 100 TB.
    val p = plan("q65_skyline")
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashExchanges == 2,
      s"q65 expected exactly 2 hash shuffles, got $hashExchanges:\n$p")
    assert(!p.contains("Join"), s"q65 grew a join:\n$p")
  }

  test("x27 html strip is one map pass — no shuffle, no join") {
    val p = plan("x27_html_strip")
    assert(!p.contains("Exchange hashpartitioning"),
      s"x27 grew a shuffle:\n$p")
    assert(!p.contains("Join"), s"x27 grew a join:\n$p")
  }

  test("t54 json_normalize is map + generate only — no shuffle, no join") {
    val p = plan("t54_json_normalize")
    assert(!p.contains("Exchange hashpartitioning"),
      s"t54 grew a shuffle:\n$p")
    assert(!p.contains("Join"), s"t54 grew a join:\n$p")
    assert(p.contains("Generate"), s"t54 lost its explode:\n$p")
  }

  test("q67 transitions: probability math never re-touches the events") {
    // the user lag window + the pair groupBy touch event-scale data;
    // the per-prev total runs on the type²-sized count table — no
    // join, no second event pass
    val p = plan("q67_event_transitions")
    assert(!p.contains("Join"), s"q67 grew a join:\n$p")
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashExchanges <= 3,
      s"q67 expected ≤3 hash shuffles (user, pair, tiny-total), got $hashExchanges:\n$p")
  }

  test("q69 bucketed join: the fact join itself has NO Exchange") {
    // the only hash exchange in the whole query is the tiny per-year
    // aggregate — the join reads co-located buckets directly
    val p = plan("q69_bucketed_join")
    assert(p.contains("SortMergeJoin") || p.contains("Join"),
      s"q69 lost its join:\n$p")
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashExchanges == 1,
      s"q69 expected exactly 1 hash shuffle (the aggregate), got $hashExchanges:\n$p")
  }

  test("q71 partitioned read: the type predicate prunes at planning time") {
    val p = plan("q71_partition_pruning")
    assert(p.contains("PartitionFilters"), s"q71 lost partition pruning:\n$p")
    assert(p.contains("event_type"), s"q71's predicate left the scan:\n$p")
  }

  test("e13 diversity: ONE corpus shuffle (the label moment groupBy), no explode") {
    val p = plan("e13_diversity")
    // corpus-side work = exactly one hashpartitioning Exchange for the
    // label groupBy; the all-row fold runs on label-cardinality rows
    // (SinglePartition) and must not add corpus shuffles. Any Generate
    // means the wide-agg formulation regressed to a posexplode.
    assert(!p.contains("Generate"), s"e13 grew an explode:\n$p")
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashExchanges <= 2, // label groupBy ×(perLabel, allRow branches)
      s"e13 expected ≤2 hash shuffles, got $hashExchanges:\n$p")
  }

  test("t56 kleene grid: one fused scan + one mergeable flag groupBy") {
    val p = plan("t56_kleene_bool")
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashExchanges == 1,
      s"t56 expected exactly 1 hash shuffle, got $hashExchanges:\n$p")
    assert(p.contains("partial"), s"t56 lost map-side partials:\n$p")
    assert(!p.contains("Join"), s"t56 grew a join:\n$p")
  }

  test("whole-stage codegen covers the scan-agg pipeline") {
    // AQE wraps everything in an unmaterialized AdaptiveSparkPlan (0
    // visible codegen subtrees pre-execution) — disable it for the
    // introspection only
    def codegen(name: String): String =
      SparkEntry.queries(name)(spark, sf).queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("codegen"))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      assert(codegen("q6_scan_agg").contains("WholeStageCodegen subtrees"))
      assert(!codegen("q6_scan_agg").startsWith("Found 0 WholeStageCodegen"))
      assert(!codegen("q1_agg").startsWith("Found 0 WholeStageCodegen"))
    } finally spark.conf.unset("spark.sql.adaptive.enabled")
  }
}
