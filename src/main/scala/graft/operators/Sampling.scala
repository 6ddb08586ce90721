package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Settle

/** Deterministic corpus-sampling operators.
  *
  * Complements the hash-sample (q31) and md5-bucket split (x7)
  * primitives: here the unit of control is a GROUP (source, domain,
  * language) rather than a global rate.
  */
object Sampling {

  /** Per-group quota: keep at most `n` rows of each group, chosen in
    * deterministic md5 order of the id — the anti-domination rule a
    * corpus mixer applies so no domain floods the training mix
    * regardless of its crawl volume. Hash order (not "first n") makes
    * the quota a uniform-without-replacement sample that is stable
    * across runs, partitionings, and incremental re-crawls.
    *
    * Returns (group, id, rk) with rk 1..n in hash order.
    *
    * Scale shape: one hash aggregate keyed on the group via the
    * mergeable bounded heap [[Sketches.groupTopK]] — each map
    * partition holds at most n (score, id) pairs per group and heaps
    * merge reduce-side, so a group with a billion rows still reduces
    * O(partitions × n); no window, no sort of the corpus. */
  def groupQuota(df: DataFrame, groupCol: String, idCol: String,
      n: Int): DataFrame = {
    // smallest-md5-first surfaced through a largest-first heap by
    // negating; 15 hex chars keep the value exact in a double's 53-bit
    // mantissa... they don't (60 bits), but both engines round the
    // SAME bigint to the SAME nearest double, and ties fall to id asc,
    // so the order is still deterministic and oracle-reproducible.
    val score = -conv(substring(md5(col(idCol).cast("string")), 1, 15), 16, 10)
      .cast("long").cast("double")
    Sketches.groupTopK(df, Seq(col(groupCol).as("grp")), score,
        col(idCol).cast("long"), n)
      .select(col("grp").as(groupCol), col("id").as(idCol), col("rk"))
  }

  /** Temperature-reweighted mixture sampling: each group's keep rate
    * targets `targetTotal` total rows distributed ∝ count^alpha — the
    * standard pretraining mixture policy (alpha = 1 preserves the
    * natural mix, 0 flattens every group equal, 0.5 is the common
    * square-root temperature). The keep decision is a deterministic
    * md5 coin per id (`u = hash60 / 2^60 < rate`), so the sample is
    * reproducible across runs and partitionings and monotone in the
    * rate (raising a rate only ADDS rows — incremental-friendly).
    *
    * Returns (group, id, rate, kept) for every input row.
    *
    * Scale shape: one count aggregate; the per-group rates are a
    * GROUP-cardinality relation (domains/sources — thousands at most)
    * computed driver-side with a SORTED fold (deterministic float
    * sum) and broadcast back; the corpus side is one map pass.
    * alpha = 0 and 1 avoid pow() entirely; 0.5 uses sqrt (an IEEE
    * correctly-rounded op), so rates reproduce bit-for-bit in the
    * DuckDB oracle. */
  /** DSIR importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): fit hashed-n-gram
    * (unigram + bigram, md5 → `buckets` buckets) bag-of-words models
    * over the TARGET slice (`targetCol` true) and the RAW corpus, both
    * Laplace-smoothed; each doc's importance weight is
    * log w(d) = Σ_grams [log p_target(b) − log p_raw(b)].
    * `selected` = log w > 0 (the doc looks more target- than raw-like).
    *
    * Determinism: per-bucket log-ratios are rounded to 6 decimals and
    * summed as DECIMALs — per-doc sums are exact and order-free, so the
    * result is independent of partitioning (and replayable in SQL).
    *
    * Scale shape: the gram explode shuffles (bucket, flag) pairs only
    * — constant size per gram, never text; the model is `buckets` rows
    * — broadcast back for the per-doc scoring join; one final groupBy
    * on the doc id. The target slice rides the same scan (a boolean
    * flag, not a second pass). */
  def dsirWeights(docs: DataFrame, idCol: String, textCol: String,
      targetCol: Column, buckets: Int = 256): DataFrame = Settle.scope("dsirWeights") { st =>
    val grams = docs
      .withColumn("is_target", targetCol)
      .select(col(idCol), col("is_target"),
        explode(graft.expressions.Kernels.dsirGramBuckets(col(textCol), buckets)).as("b"))
    // pre-aggregate once to (doc, bucket, count): the gram explode +
    // md5 run in exactly ONE pass; everything downstream (model fit,
    // scoring) reuses this ≤256-rows-per-doc table. Cached like d10's
    // assignments — constant size per doc, released by the enclosing
    // scope once no result reads it, recomputable if evicted.
    val docBuckets = st.cache(grams
      .groupBy(col(idCol), col("is_target"), col("b"))
      .agg(count(lit(1)).as("c")))
    val counts = docBuckets.groupBy("b").agg(
      sum("c").as("cr"),
      sum(when(col("is_target"), col("c")).otherwise(0L)).as("ct"))
    val allB = docs.sparkSession.range(buckets)
      .select(col("id").cast("int").as("b"))
    val full = allB.join(counts, Seq("b"), "left")
      .na.fill(0L, Seq("cr", "ct"))
    // the fitted model is `buckets` rows — collect it ONCE (the k-means
    // model-state precedent) and finish the smoothing/log math on the
    // driver with the identical IEEE ops; a DataFrame formulation would
    // re-execute the gram pipeline per DAG branch (counts/totals/score),
    // scanning the corpus 4x instead of the honest fit + score 2x
    val fullRows = full.collect().map(r =>
      (r.getInt(0), r.getLong(1), r.getLong(2))) // (b, cr, ct)
    val tr = fullRows.map(_._2).sum.toDouble
    val tt = fullRows.map(_._3).sum.toDouble
    val bd = buckets.toDouble
    def round6(x: Double): Double = BigDecimal(x)
      .setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP).toDouble
    val lamLocal = fullRows.map { case (b, cr, ct) =>
      (b, round6(math.log(((ct + 1.0) / (tt + bd)) / ((cr + 1.0) / (tr + bd)))))
    }.toSeq
    val sp = docs.sparkSession
    import sp.implicits._
    val lam = lamLocal.toDF("b", "lam_d")
      .select(col("b"),
        col("lam_d").cast(org.apache.spark.sql.types.DecimalType(16, 6)).as("lam"))
    // score from the SAME pre-aggregated table: Σ c·λ_b is exactly the
    // per-gram Σ λ (same multiset, exact decimals — order-free)
    docBuckets.join(broadcast(lam), Seq("b"))
      .groupBy(idCol)
      .agg(sum("c").as("n_grams"),
        sum(col("c") * col("lam")).cast("double").as("logw"))
      .withColumn("selected", col("logw") > 0.0)
  }

  def mixtureSample(df: DataFrame, groupCol: String, idCol: String,
      targetTotal: Long, alpha: Double = 0.0): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // Driver-state invariant (the dsirWeights/IVF discipline): this
    // collect is one row PER MIXTURE GROUP (source/lang), bounded by
    // the mixture's component count — tens of sources in any real
    // corpus recipe, never data-sized. The rows themselves stay
    // distributed; only the per-group rates are broadcast back.
    val counts: Seq[(String, Long)] = df
      .groupBy(col(groupCol).cast("string").as("g")).count()
      .as[(String, Long)].collect().toSeq.sortBy(_._1)
    def w(c: Long): Double = alpha match {
      case 0.0 => 1.0
      case 1.0 => c.toDouble
      case 0.5 => math.sqrt(c.toDouble)
      case a => math.pow(c.toDouble, a)
    }
    val s = counts.foldLeft(0.0) { case (acc, (_, c)) => acc + w(c) }
    val rates = counts.map { case (g, c) =>
      (g, math.min(1.0, targetTotal * (w(c) / s) / c))
    }.toDF("g", "rate")
    // u is built from the post-rename "id" column so resolution never
    // depends on lateral-column-alias binding (which would break with
    // spark.sql.lateralColumnAlias.enableImplicitResolution=false or a
    // user idCol named "g"/"rate").
    val u = conv(substring(md5(col("id").cast("string")), 1, 15), 16, 10)
      .cast("long").cast("double") / lit(1152921504606846976.0) // 2^60
    df.select(col(groupCol).cast("string").as("g"), col(idCol).as("id"))
      .join(broadcast(rates), Seq("g"))
      .select(col("g").as(groupCol), col("id").as(idCol),
        round(col("rate"), 6).as("rate"), (u < col("rate")).as("kept"))
  }

  /** Sequential Poisson sampling (Ohlsson '98): a deterministic
    * weighted without-replacement sample of `k` rows per group.
    * Every row draws its md5-uniform u (the q31/x10 idiom — stable
    * across runs, engines, and cluster layouts) and ranks by
    * ξ = u / w; the k smallest ξ per group win, so inclusion
    * probability tracks the weight. ξ is ONE IEEE division — no
    * transcendentals — so the ranking (and the emitted ξ itself)
    * replays bit-exactly in SQL. Rows with w ≤ 0 are excluded.
    *
    * Scale shape: u/ξ are map-side expressions; the per-group top-k
    * is one window over the group key — swap in [[Sketches.groupTopK]]
    * (the q44 aggregate idiom) when groups are few and rows are huge. */
  def weightedSample(df: DataFrame, groupCol: String, idCol: String,
      weight: Column, k: Int): DataFrame = {
    val u = conv(substring(md5(col(idCol).cast("string")), 1, 15), 16, 10)
      .cast("long").cast("double") / lit(1152921504606846976.0) // 2^60
    val xi = u / col("w")
    val ranked = df
      .select(col(groupCol), col(idCol), weight.cast("double").as("w"))
      .filter(col("w") > 0.0)
      .withColumn("xi", xi)
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(groupCol)
          .orderBy(col("xi").asc, col(idCol).asc)))
    ranked.filter(col("rn") <= k)
      .select(col(groupCol), col(idCol), col("w"), col("xi"))
  }

  /** p5's availability table (source, avail): the tokens each source
    * offers. A per-source sum, so it folds across batches (the S26
    * streaming twin keeps it as state). */
  def mixAvailability(docs: DataFrame, textCol: String,
      sourceCol: String): DataFrame =
    docs.select(col(sourceCol).as("source"),
        size(TextAnalysis.tokens(col(textCol))).cast("long").as("n_tokens"))
      .groupBy("source").agg(sum("n_tokens").as("avail"))

  /** Adds p5's pinned integer target-weight units to an availability
    * table: u = (the first number in the source name) mod 4, plus 1. */
  def withMixUnits(avail: DataFrame): DataFrame = avail.withColumn("u",
    regexp_extract(col("source"), "(\\d+)", 1).cast("long") % 4 + 1)

  /** The mixing-plan SOLVER (p5's core, shared with streaming twin
    * S26): given a per-source availability table `(source, avail, u)`
    * — available tokens and integer target-weight units — and a hard
    * epoch cap, compute the largest total budget T* every source can
    * serve within its cap (min_s ⌊avail·cap·U / u⌋, U = Σu), each
    * source's allocation ⌊u·T* / U⌋, its implied epoch count on the
    * 10⁻⁶ grid, and the BINDING flag (its cap attains the min).
    * All-integer arithmetic staged through DECIMAL(38,0) products +
    * integral division; input is source-cardinality sized, so the two
    * scalar crosses (U, T*) are 1-row broadcasts over a tiny table. */
  def mixingPlan(avail: DataFrame, cap: Long = 4L): DataFrame = {
    val tot = avail.agg(sum("u").as("u_tot"))
    val base = avail.crossJoin(broadcast(tot))
      .withColumn("t_cap",
        expr(s"CAST(avail AS DECIMAL(38,0)) * $cap * u_tot div u"))
    val tstar = base.agg(min("t_cap").as("t_star"))
    base.crossJoin(broadcast(tstar))
      .withColumn("alloc_tokens",
        expr("CAST(u AS DECIMAL(38,0)) * t_star div u_tot"))
      .withColumn("epochs_e6",
        expr("CAST(alloc_tokens AS DECIMAL(38,0)) * 1000000 div avail"))
      .select(col("source"), col("u").as("weight_units"),
        col("avail").as("avail_tokens"), col("alloc_tokens"),
        col("epochs_e6"),
        (col("epochs_e6").cast("double") / lit(1000000.0)).as("epochs"),
        (col("t_cap") === col("t_star")).as("limiting"))
      .orderBy("source")
  }

  /** Largest-remainder (Hamilton) allocation of `k` draws over strata.
    * `strata` holds one row per stratum: the `keyCols` and its size
    * `n_docs`. `k` is evaluated next to `nn` = Σ n_docs and may read it
    * (a 10 % hold-out is `expr("nn div 10")`). Each stratum gets
    * ⌊n·k/N⌋ plus one of the k − Σ⌊n·k/N⌋ largest remainders (ties by
    * the keys, in order), capped at n: for k ≤ N the allocations sum to
    * k and each lies within 1 of n·k/N. All arithmetic is integer; a
    * remainder is compared as n·k mod N.
    *
    * Returns `keyCols`, `n_docs`, `allocated`.
    *
    * Scale shape: the remainder rank is a window with no partition, so
    * it gathers its input on one task; that input is `strata`, one row
    * per stratum, never the corpus. */
  def hamiltonAllocation(strata: DataFrame, k: Column,
      keyCols: String*): DataFrame = {
    val tot = strata.agg(sum("n_docs").as("nn")).withColumn("k", k)
    val al = strata.crossJoin(broadcast(tot))
      .withColumn("base", expr("(n_docs * k) div nn"))
      .withColumn("rem", expr("(n_docs * k) % nn"))
      .withColumn("rk", row_number().over(
        Window.orderBy(col("rem").desc +: keyCols.map(col): _*)))
    val lo = al.agg((max("k") - sum("base")).as("lo"))
    al.crossJoin(broadcast(lo))
      .withColumn("allocated", least(col("n_docs"),
        col("base") + when(col("rk") <= col("lo"), 1L).otherwise(0L)))
      .select((keyCols :+ "n_docs" :+ "allocated").map(col): _*)
  }
}
