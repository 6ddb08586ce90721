package graft.relational

import graft.Settle
import graft.Tables._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Relational core: TPC-H-shaped coverage of scan/filter/project/agg/join
  * (inner, semi, anti, outer, full), window, set-ops, subqueries, rollup/
  * cube/grouping-sets, pivot, sort-limit, time bucketing, sessionization.
  *
  * Scale posture: small dims (region/nation/supplier/part at these SFs —
  * and in real TPC-H, anything ≪ the fact table) are broadcast; fact-fact
  * joins shuffle on their join keys; aggregations rely on partial
  * (map-side) aggregation. Every query is a pure DataFrame plan —
  * Catalyst handles pushdown/pruning/join selection; AQE re-plans skew.
  */
object Relational {

  private def ts(s: String): Column = lit(s).cast(TimestampType)

  // ---- R1: TPC-H Q1 pricing summary -------------------------------------
  def q1Agg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") <= ts("1998-09-02"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        dsum(dec(col("l_quantity"))).as("sum_qty"),
        dsum(dec(col("l_extendedprice"))).as("sum_base_price"),
        dsum(revenue).as("sum_disc_price"),
        dsum(revenue * (lit(1) + dec(col("l_tax")))).as("sum_charge"),
        (sum(dec(col("l_quantity"))).cast(DoubleType) / count(lit(1))).as("avg_qty"),
        (sum(dec(col("l_extendedprice"))).cast(DoubleType) / count(lit(1))).as("avg_price"),
        (sum(dec(col("l_discount"))).cast(DoubleType) / count(lit(1))).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  // ---- R2: projection + predicate pushdown ------------------------------
  def q2FilterProject(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_shipdate").between(ts("1996-01-01"), ts("1996-12-31")) &&
        col("l_discount") > 0.05)
      .select("l_orderkey", "l_linenumber", "l_extendedprice")
      .orderBy("l_orderkey", "l_linenumber")

  // ---- R3: Q3 shipping priority (3-way join + agg + top-k) ---------------
  def q3JoinAgg(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
    val ord = t(s, dir, "orders").filter(col("o_orderdate") < ts("1998-03-15"))
    val li = t(s, dir, "lineitem").filter(col("l_shipdate") > ts("1998-03-15"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy("l_orderkey", "o_orderdate")
      .agg(dsum(revenue).as("rev"))
      .orderBy(desc("rev"), asc("l_orderkey"))
      .limit(10)
  }

  // ---- R4: left-semi (EXISTS) -------------------------------------------
  def q4Semijoin(s: SparkSession, dir: String): DataFrame = {
    val big = t(s, dir, "lineitem").filter(col("l_quantity") > 45)
      .select(col("l_orderkey"))
    t(s, dir, "orders")
      .join(big, col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy("o_orderpriority").agg(count(lit(1)).as("order_count"))
      .orderBy("o_orderpriority")
  }

  // ---- R5: Q5 star join (6 tables) --------------------------------------
  def q5MultiJoin(s: SparkSession, dir: String): DataFrame = {
    val region = t(s, dir, "region").filter(col("r_name") === "ASIA")
    val nation = t(s, dir, "nation")
    val supp = t(s, dir, "supplier")
    val cust = t(s, dir, "customer")
    val ord = t(s, dir, "orders")
      .filter(col("o_orderdate") >= ts("1996-01-01") && col("o_orderdate") < ts("1998-01-01"))
    val li = t(s, dir, "lineitem")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .join(cust, col("o_custkey") === col("c_custkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .groupBy("n_name").agg(dsum(revenue).as("rev"))
      .orderBy(desc("rev"), asc("n_name"))
  }

  // ---- R6: Q6 tight scan-agg --------------------------------------------
  def q6ScanAgg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= ts("1997-01-01") && col("l_shipdate") < ts("1998-01-01") &&
        col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
      .agg(dsum(dec(col("l_extendedprice")) * dec(col("l_discount"))).as("rev"))

  // ---- R7: window rank (top-3 orders per customer) ----------------------
  def q7WindowRank(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(desc("o_totalprice"), asc("o_orderkey"))
    t(s, dir, "orders")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
      .orderBy("o_custkey", "rn")
  }

  // ---- R8: window running sum -------------------------------------------
  def q8RunningSum(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, dir, "orders")
      .withColumn("running_spend", sum(dec(col("o_totalprice"))).over(w).cast(DoubleType))
      .select("o_custkey", "o_orderkey", "running_spend")
      .orderBy("o_custkey", "o_orderkey")
  }

  // ---- R9: distinct / count-distinct ------------------------------------
  def q9Distinct(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        count(lit(1)).as("n_rows"))
      .orderBy("l_returnflag")

  // ---- R10: group-by + having -------------------------------------------
  def q10Having(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy("o_custkey").agg(count(lit(1)).as("n_orders"))
      .filter(col("n_orders") >= 3)
      .orderBy("o_custkey")

  // ---- R11: left-anti (NOT EXISTS) --------------------------------------
  def q11Antijoin(s: SparkSession, dir: String): DataFrame = {
    val urgent = t(s, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT").select(col("o_custkey"))
    t(s, dir, "customer")
      .join(urgent, col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }

  // ---- R12: union + conditional agg -------------------------------------
  def q12Union(s: SparkSession, dir: String): DataFrame = {
    val ord = t(s, dir, "orders")
    val high = ord.filter(col("o_totalprice") > 200000)
      .select(col("o_orderpriority"), lit("high").as("bucket"))
    val urgent = ord.filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderpriority"), lit("urgent").as("bucket"))
    high.union(urgent)
      .groupBy("o_orderpriority", "bucket").agg(count(lit(1)).as("n"))
      .orderBy("o_orderpriority", "bucket")
  }

  // ---- R13: Q13 outer join + agg-of-agg ---------------------------------
  def q13OuterjoinAgg(s: SparkSession, dir: String): DataFrame = {
    val ord = t(s, dir, "orders").select("o_custkey", "o_orderkey")
    t(s, dir, "customer")
      .join(ord, col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy("c_custkey").agg(count(col("o_orderkey")).as("c_count"))
      .groupBy("c_count").agg(count(lit(1)).as("custdist"))
      .orderBy(desc("custdist"), desc("c_count"))
  }

  // ---- R14: Q14 conditional (CASE WHEN) agg ------------------------------
  def q14CaseAgg(s: SparkSession, dir: String): DataFrame = {
    val part = t(s, dir, "part")
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= ts("1997-01-01") && col("l_shipdate") < ts("1997-04-01"))
      .join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .agg((lit(100.0) *
        sum(when(col("p_type") === "PROMO", revenue).otherwise(lit(0).cast(DecimalType(18, 4)))).cast(DoubleType) /
        sum(revenue).cast(DoubleType)).as("promo_revenue"))
  }

  // ---- R15: Q17-ish scalar subquery (per-part avg) -----------------------
  def q15ScalarSubq(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val avgQty = li.groupBy(col("l_partkey").as("ap_partkey"))
      .agg((sum(dec(col("l_quantity"))).cast(DoubleType) / count(lit(1))).as("avg_qty"))
    li.join(avgQty, col("l_partkey") === col("ap_partkey"))
      .filter(col("l_quantity") < lit(0.5) * col("avg_qty"))
      .agg((dsum(dec(col("l_extendedprice"))) / lit(7.0)).as("avg_yearly"))
  }

  // ---- R16: Q18-ish large orders via agg + window top-k ------------------
  def q16GroupaggTopk(s: SparkSession, dir: String): DataFrame = {
    val totals = t(s, dir, "lineitem")
      .groupBy("l_orderkey")
      .agg(sum(dec(col("l_quantity"))).cast(DoubleType).as("total_qty"))
    // top-k first via TakeOrderedAndProject (scale-safe: per-partition
    // top-k then merge — no global sort); the rank window then runs on
    // just k rows.
    val top = totals.orderBy(desc("total_qty"), asc("l_orderkey")).limit(20)
    val w = Window.orderBy(desc("total_qty"), asc("l_orderkey"))
    val ranked = top.withColumn("rk", row_number().over(w))
    t(s, dir, "orders")
      .join(broadcast(ranked), col("l_orderkey") === col("o_orderkey"))
      .select("l_orderkey", "o_custkey", "total_qty", "rk")
      .orderBy("rk")
  }

  // ---- R17: Q19-ish disjunctive predicates over a join -------------------
  def q17OrPred(s: SparkSession, dir: String): DataFrame = {
    val part = t(s, dir, "part")
    t(s, dir, "lineitem")
      .join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .filter(
        (col("p_brand") === "Brand#11" && col("p_size").between(1, 15) &&
          col("l_quantity").between(1, 11)) ||
        (col("p_brand") === "Brand#14" && col("p_size").between(1, 25) &&
          col("l_quantity").between(10, 20)) ||
        (col("p_brand") === "Brand#17" && col("p_size").between(1, 35) &&
          col("l_quantity").between(20, 30)))
      .agg(dsum(revenue).as("rev"), count(lit(1)).as("n"))
  }

  // ---- R18: IN-subquery (semi join) --------------------------------------
  def q18InSubq(s: SparkSession, dir: String): DataFrame = {
    val heavy = t(s, dir, "lineitem").filter(col("l_quantity") >= 49)
      .select(col("l_partkey"))
    t(s, dir, "part")
      .join(heavy, col("p_partkey") === col("l_partkey"), "left_semi")
      .select("p_partkey", "p_name", "p_brand")
      .orderBy("p_partkey")
  }

  // ---- R19: rollup -------------------------------------------------------
  def q19Rollup(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .rollup("l_returnflag", "l_linestatus")
      .agg(dsum(dec(col("l_quantity"))).as("sum_qty"), count(lit(1)).as("n"))
      .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))

  // ---- R20: cube ---------------------------------------------------------
  def q20Cube(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .cube("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n"), dsum(dec(col("o_totalprice"))).as("total"))
      .orderBy(asc_nulls_first("o_orderstatus"), asc_nulls_first("o_orderpriority"))

  // ---- R21: pivot --------------------------------------------------------
  def q21Pivot(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(count(lit(1)))
      .select(col("l_returnflag"),
        coalesce(col("F"), lit(0L)).as("f_cnt"),
        coalesce(col("O"), lit(0L)).as("o_cnt"))
      .orderBy("l_returnflag")

  // ---- R22: global sort + limit ------------------------------------------
  def q22SortLimit(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_extendedprice")
      .orderBy(desc("l_extendedprice"), asc("l_orderkey"), asc("l_linenumber"))
      .limit(50)

  // ---- R23: time-bucketed event aggregation ------------------------------
  def q23EventsBucket(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(unix_timestamp(date_trunc("hour", col("ts"))).as("hour_s"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(dec(col("value"))).as("total_value"))
      .orderBy("hour_s", "event_type")

  // ---- R24: gap-based sessionization (30 min) ----------------------------
  def q24Sessionize(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("es", "event_id")
    val e = events(s, dir)
      .select(col("user_id"), unix_timestamp(col("ts")).as("es"), col("event_id"))
      .withColumn("prev", lag("es", 1).over(w))
      .withColumn("new_s",
        when(col("prev").isNull || col("es") - col("prev") > 1800, 1L).otherwise(0L))
      .withColumn("session_id",
        sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    e.groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"), min("es").as("start_s"),
        (max(col("es")) - min(col("es"))).as("dur_s"))
      .orderBy("user_id", "session_id")
  }

  // ---- R25: grouping sets -------------------------------------------------
  def q25GroupingSets(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "lineitem").createOrReplaceTempView("graft_li_gs")
    s.sql(
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n
        |FROM graft_li_gs
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST
        |""".stripMargin)
  }

  // ---- R26: full-outer join ----------------------------------------------
  def q26FullOuter(s: SparkSession, dir: String): DataFrame = {
    val custN = t(s, dir, "customer").groupBy(col("c_nationkey").as("nationkey"))
      .agg(count(lit(1)).as("n_cust"))
    val suppN = t(s, dir, "supplier").groupBy(col("s_nationkey").as("nationkey"))
      .agg(count(lit(1)).as("n_supp"))
    custN.join(suppN, Seq("nationkey"), "full_outer")
      .select(col("nationkey"),
        coalesce(col("n_cust"), lit(0L)).as("n_cust"),
        coalesce(col("n_supp"), lit(0L)).as("n_supp"))
      .orderBy("nationkey")
  }

  // ---- R27: as-of (point-in-time) join ------------------------------------
  // each purchase matched to the user's latest view at-or-before it
  def q27AsofJoin(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir).select(col("event_id"), col("user_id"),
      unix_timestamp(col("ts")).as("es"), col("event_type"), col("value"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "es")
    // right side deduped per (user, second): later event_id wins —
    // deterministic and mirrors the oracle's arg_max
    val views = e.filter(col("event_type") === "view")
      .groupBy(col("user_id"), col("es").as("v_es"))
      .agg(max(struct(col("event_id"), col("value"))).as("m"))
      .select(col("user_id"), col("v_es"), col("m.event_id").as("v_id"),
        col("m.value").as("v_value"))
    graft.operators.AsOfJoin.asof(purchases, views,
        keyCols = Seq("user_id"), leftTime = "es", rightTime = "v_es",
        rightVals = Seq("v_id", "v_value", "v_es"))
      .orderBy("event_id")
  }

  // ---- R28: bucketed range join -------------------------------------------
  // error events within an hour of a purchase by the same user
  def q28RangeJoin(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir).select(col("event_id"), col("user_id"),
      unix_timestamp(col("ts")).as("es"), col("event_type"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("p_id"), col("es").as("p_es"))
    val errors = e.filter(col("event_type") === "error")
      .select(col("user_id"), col("event_id").as("e_id"), col("es").as("e_es"))
    graft.operators.RangeJoin.within(purchases, errors,
        keyCols = Seq("user_id"), leftTime = "p_es", rightTime = "e_es",
        window = 3600L)
      .select("user_id", "p_id", "e_id", "p_es", "e_es")
      .orderBy("p_id", "e_id")
  }

  // ---- R29: as-of via the NATIVE custom operator --------------------------
  // same semantics/oracle as q27, executed by graft.plans.AsOfJoinExec
  // (logical node -> Strategy -> sort-merge physical plan)
  def q29AsofNative(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir).select(col("event_id"), col("user_id"),
      unix_timestamp(col("ts")).as("es"), col("event_type"), col("value"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "es")
    val views = e.filter(col("event_type") === "view")
      .groupBy(col("user_id"), col("es").as("v_es"))
      .agg(max(struct(col("event_id"), col("value"))).as("m"))
      .select(col("user_id"), col("v_es"), col("m.event_id").as("v_id"),
        col("m.value").as("v_value"))
    graft.plans.AsOfJoinNative.asof(purchases, views,
        keyCols = Seq("user_id"), leftTime = "es", rightTime = "v_es",
        rightVals = Seq("v_id", "v_value", "v_es"))
      .orderBy("event_id")
  }

  // ---- R30: sketch-based distinct counting --------------------------------
  // HLL sketch columns are MERGEABLE: partial sketches combine across
  // partitions/days without re-scanning raw data — the only viable
  // distinct-count shape at 100 TB. approx estimates can't hash-match a
  // different engine's sketch, so the oracle is rows-only; the spec
  // asserts the estimates sit within 2% of exact.
  // md5-register HLL (operators.Sketches.hllSketch): mergeable like
  // Spark's DataSketches hll_sketch_agg (the documented one-line swap)
  // but every register — and therefore the ESTIMATE itself — replays
  // in the DuckDB oracle. Accuracy spec (±2%) in SketchSpec.
  def q30SketchDistinct(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Sketches._
    t(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        round(hllEstimate(hllSketch(col("l_partkey"))), 2).as("nd_parts"),
        round(hllEstimate(hllSketch(col("l_orderkey"))), 2).as("nd_orders"),
        round(hllEstimate(hllSketch(col("l_suppkey"))), 2).as("nd_supps"))
      .orderBy("l_returnflag")
  }

  // ---- R31: deterministic hash sampling -----------------------------------
  // ~10% sample that is STABLE across runs/engines/cluster layouts
  // (df.sample(seed) is partition-layout-dependent; md5 bucketing isn't)
  def q31HashSample(s: SparkSession, dir: String): DataFrame = {
    val bucket = (conv(substring(md5(concat_ws("_",
      col("l_orderkey"), col("l_linenumber"))), 1, 4), 16, 10)
      .cast("long") % 100).cast("int")
    t(s, dir, "lineitem")
      .withColumn("bucket", bucket)
      .filter(col("bucket") < 10)
      .select("l_orderkey", "l_linenumber", "bucket")
      .orderBy("l_orderkey", "l_linenumber")
  }

  // ---- R32: quantiles — exact order statistics ----------------------------
  // Exact percentile sorts each group's values: the verification-grade
  // twin, oracled against DuckDB quantile_cont (same linear
  // interpolation at p·(n-1)). The 100 TB default is the MERGEABLE
  // approx_percentile t-digest — QuantileSketchSpec asserts the sketch
  // tracks these exact values.
  def q32Quantiles(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy("l_returnflag")
      // ONE percentile aggregate for all four points (4 separate aggs
      // would buffer+sort each group's values four times)
      .agg(percentile(col("l_extendedprice"),
        array(lit(0.25), lit(0.5), lit(0.75), lit(0.9))).as("ps"))
      .select(col("l_returnflag"),
        round(element_at(col("ps"), 1), 6).as("p25"),
        round(element_at(col("ps"), 2), 6).as("p50"),
        round(element_at(col("ps"), 3), 6).as("p75"),
        round(element_at(col("ps"), 4), 6).as("p90"))
      .orderBy("l_returnflag")

  // ---- R60: histogram-sketch quantiles ------------------------------------
  /** The SCALE path for q32's exact percentiles: a fixed-grid histogram
    * sketch — pass 1 computes per-group (min, max, n); pass 2 buckets
    * every value into B=4096 grid cells (map-side-combined counts, no
    * sort anywhere); the quantile estimate is the lower edge of the
    * first bucket whose cumulative count reaches ⌈q·n⌉. Error is
    * bounded by one grid cell ((max−min)/B — GraftSpec pins it against
    * the exact q32 answers). Histograms are mergeable by addition, so
    * the same plan incrementalizes (q55) and streams (S13). Fully
    * deterministic — identical IEEE bucket/edge arithmetic in the
    * DuckDB oracle, no seeded sketch state — unlike approx_percentile,
    * whose partial-merge order leaks into the result. */
  def q60SketchQuantiles(s: SparkSession, dir: String): DataFrame = {
    val B = 4096
    val src = t(s, dir, "lineitem")
      .select(col("l_returnflag").as("g"),
        col("l_extendedprice").cast(DoubleType).as("x"))
    val ranges = src.groupBy("g")
      .agg(min("x").as("mn"), max("x").as("mx"), count(lit(1)).as("n"))
    val hist = src.join(broadcast(ranges), Seq("g"))
      .select(col("g"),
        when(col("mx") === col("mn"), lit(0))
          .otherwise(least(lit(B - 1),
            floor((col("x") - col("mn")) / (col("mx") - col("mn")) * B)
              .cast("int"))).as("b"))
      .groupBy("g", "b").agg(count(lit(1)).as("c"))
    val cum = hist
      .withColumn("cum", sum("c").over(Window.partitionBy("g").orderBy("b")))
      .join(broadcast(ranges), Seq("g"))
    def qEst(q: Double, name: String) =
      round(min(when(col("cum") >= ceil(lit(q) * col("n")),
        col("mn") + (col("mx") - col("mn")) / B * col("b"))), 6).as(name)
    cum.groupBy(col("g").as("l_returnflag"))
      .agg(qEst(0.25, "p25"), qEst(0.5, "p50"),
        qEst(0.75, "p75"), qEst(0.9, "p90"))
      .orderBy("l_returnflag")
  }

  // ---- R33: theta-sketch dataset overlap ----------------------------------
  // Two overlapping document sets (ids <600 / ≥300) sketched once each;
  // union/intersection cardinalities estimated from the SKETCHES — no
  // re-scan, no distinct-join. Exact counts computed alongside so the
  // estimate quality is visible in the output; ThetaSketchSpec pins the
  // error bounds. Estimates are deterministic (seeded hash) but not
  // reproducible in DuckDB → rows-only.
  def q33ThetaOverlap(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Sketches._
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), sha2(col("text"), 256).as("digest"))
    // id-bounded sides (≤ 600 / ≤ 700 docs at ANY scale factor) keep
    // both sketches below k = 1024 — the provably-exact regime the
    // oracle relies on — while the ≥ sf0.1 corpus still exercises the
    // estimator path in SketchSpec
    val a = docs.filter(col("doc_id") < 600)
    val b = docs.filter(col("doc_id") >= 300 && col("doc_id") < 1000)
    val skA = a.agg(thetaSketch(col("digest")).as("sk"), count(lit(1)).as("n"))
    val skB = b.agg(thetaSketch(col("digest")).as("sk"), count(lit(1)).as("n"))
    skA.select(col("sk").as("sk_a"), col("n").as("exact_a"))
      .crossJoin(skB.select(col("sk").as("sk_b"), col("n").as("exact_b")))
      .select(
        round(thetaEstimate(col("sk_a")), 2).as("est_a"),
        col("exact_a"),
        round(thetaEstimate(col("sk_b")), 2).as("est_b"),
        col("exact_b"),
        round(thetaEstimate(thetaUnion(col("sk_a"), col("sk_b"))), 2).as("est_union"),
        round(thetaIntersect(col("sk_a"), col("sk_b")), 2).as("est_intersect"))
  }

  // ---- R34: semi-structured JSON property extraction ----------------------
  // from_json with an explicit schema (never schema_of_json per row —
  // one schema, codegen'd parse, no sampling pass), then a typed
  // aggregation. The standard "JSON props column" shape of event logs.
  def q34JsonExtract(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .select(col("event_type"),
        from_json(col("props"), StructType(Seq(StructField("k", IntegerType))))
          .getField("k").as("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"), max(col("k")).as("max_k"),
        count(when(col("k") >= 50, 1)).as("n_hi"))
      .orderBy("event_type")

  // ---- R35: mean-pooled embeddings ----------------------------------------
  // Elementwise vector mean per group via the mergeable VectorMeanAgg —
  // one partial-aggregating pass (a posexplode formulation shuffles
  // n·dim rows). First four components oracled at 6 digits (sums of
  // ~0.1-scale doubles: cross-engine drift ≪ rounding grain).
  def q35MeanPool(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings")
      .withColumn("g", (col("vec_id") % 8).cast(IntegerType))
      .groupBy("g")
      .agg(graft.operators.VectorOps.meanPool(col("embedding")).as("mv"),
        count(lit(1)).as("n"))
      .select(col("g"), col("n"),
        round(element_at(col("mv"), 1), 6).as("m1"),
        round(element_at(col("mv"), 2), 6).as("m2"),
        round(element_at(col("mv"), 3), 6).as("m3"),
        round(element_at(col("mv"), 4), 6).as("m4"))
      .orderBy("g")

  // ---- R37: window-function breadth --------------------------------------
  // lead/lag/ntile/percent_rank + a bounded sliding frame in ONE window
  // pass per customer: one shuffle on the partition key serves every
  // function (Spark fuses same-spec window exprs into a single node).
  def q37WindowFns(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    val w3 = w.rowsBetween(-2, Window.currentRow)
    t(s, dir, "orders")
      .filter(col("o_custkey") < 200)
      .withColumn("prev_price", lag(col("o_totalprice"), 1).over(w))
      .withColumn("next_price", lead(col("o_totalprice"), 1).over(w))
      .withColumn("quartile", ntile(4).over(w))
      .withColumn("pr", round(percent_rank().over(w), 6))
      .withColumn("ma3",
        sum(dec(col("o_totalprice"))).over(w3).cast(DoubleType) /
          count(lit(1)).over(w3))
      .select("o_custkey", "o_orderkey", "prev_price", "next_price",
        "quartile", "pr", "ma3")
      .orderBy("o_custkey", "o_orderkey")
  }

  // ---- R38: TPC-H Q21-shaped multi-EXISTS ---------------------------------
  // suppliers with a returned lineitem on orders where at least one
  // OTHER supplier also participated (EXISTS) but no other supplier
  // had a return (NOT EXISTS; the synthetic lineitem carries no
  // receipt/commit dates, so returnflag plays Q21's "late" role):
  // semi + anti self-joins on the fact table, all equi-keyed on
  // l_orderkey — shuffles share the key (co-partitioned; no broadcast
  // of the fact side).
  def q38MultiExists(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val late = li.filter(col("l_returnflag") === "R")
      .select("l_orderkey", "l_suppkey")
    val others = li.select(col("l_orderkey").as("o_k"), col("l_suppkey").as("o_s"))
    val lateOthers = late.select(col("l_orderkey").as("x_k"),
      col("l_suppkey").as("x_s"))
    late
      .join(others, col("l_orderkey") === col("o_k") &&
        col("l_suppkey") =!= col("o_s"), "left_semi")
      .join(lateOthers, col("l_orderkey") === col("x_k") &&
        col("l_suppkey") =!= col("x_s"), "left_anti")
      .groupBy("l_suppkey").agg(count(lit(1)).as("numwait"))
      .orderBy(desc("numwait"), asc("l_suppkey"))
  }

  // ---- R39: INTERSECT / EXCEPT set operations -----------------------------
  // customers active in both 1996 and 1997 (INTERSECT) vs 1996-only
  // (EXCEPT) — Spark plans both as hash-aggregated left-semi/anti
  // joins on the full row, shuffling only the distinct key sets.
  def q39SetOps(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    def yr(y: Int) = o.filter(year(col("o_orderdate")) === y)
      .select("o_custkey").distinct()
    val c96 = yr(1996)
    val c97 = yr(1997)
    c96.intersect(c97).withColumn("set_op", lit("both"))
      .union(c96.except(c97).withColumn("set_op", lit("only_1996")))
      .orderBy("set_op", "o_custkey")
  }

  // ---- R40: INTERSECT ALL / EXCEPT ALL (bag semantics) --------------------
  // multiplicity-preserving set ops over (custkey, priority) order
  // rows: INTERSECT ALL keeps min(n96, n97) copies, EXCEPT ALL keeps
  // n96 − n97 — Spark plans both via a count-tagged aggregate +
  // generate, shuffling only the distinct keys with their counts.
  def q40SetOpsAll(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    def yr(y: Int) = o.filter(year(col("o_orderdate")) === y)
      .select(col("o_custkey"), col("o_orderpriority"))
    val r96 = yr(1996)
    val r97 = yr(1997)
    r96.intersectAll(r97).groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n")).withColumn("set_op", lit("intersect_all"))
      .union(r96.exceptAll(r97).groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n")).withColumn("set_op", lit("except_all")))
      .orderBy("set_op", "o_orderpriority")
  }

  // ---- R41: sequential conversion funnel ----------------------------------
  // first view → first click within 24 h of it → first purchase within
  // 24 h of that, per user (epoch-second granularity, the events-table
  // idiom; the window creates real drop-off: ~90/35/25 across depths
  // at sf0.01). Each step filters its event type BEFORE the user-key
  // shuffle; step outputs are user-cardinality relations
  // (broadcastable into the next step).
  def q41Funnel(s: SparkSession, dir: String): DataFrame = {
    val w = 86400L
    val e = events(s, dir).select(col("user_id"),
      unix_timestamp(col("ts")).as("es"), col("event_type"))
    val a = e.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("es").as("t_view"))
    val b = e.filter(col("event_type") === "click").join(a, Seq("user_id"))
      .filter(col("es") > col("t_view") && col("es") <= col("t_view") + w)
      .groupBy("user_id").agg(min("es").as("t_click"))
    val c = e.filter(col("event_type") === "purchase").join(b, Seq("user_id"))
      .filter(col("es") > col("t_click") && col("es") <= col("t_click") + w)
      .groupBy("user_id").agg(min("es").as("t_purchase"))
    a.join(b, Seq("user_id"), "left").join(c, Seq("user_id"), "left")
      .select(col("user_id"), col("t_view"), col("t_click"), col("t_purchase"),
        (lit(1) + when(col("t_click").isNotNull, 1).otherwise(0) +
          when(col("t_purchase").isNotNull, 1).otherwise(0)).as("depth"))
      .orderBy("user_id")
  }

  // ---- R42: cohort retention ----------------------------------------------
  // users cohorted by their first signup week; retention = distinct
  // users active N weeks after their own cohort start. Week boundaries
  // are UTC Mondays on both engines, so offsets are exact integers.
  // Shuffle shape: per-user signup agg + distinct (user, week) pairs —
  // both user-keyed; the cohort join broadcasts the user-cardinality
  // signup relation.
  def q42CohortRetention(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir)
    val su = e.filter(col("event_type") === "signup")
      .groupBy("user_id")
      .agg(min(date_trunc("week", col("ts"))).as("w0"))
    val act = e.select(col("user_id"), date_trunc("week", col("ts")).as("w"))
      .distinct()
    act.join(su, Seq("user_id"))
      .select(col("user_id"),
        ((unix_timestamp(col("w")) - unix_timestamp(col("w0"))) / 604800L)
          .cast(IntegerType).as("week_offset"))
      .filter(col("week_offset") >= 0)
      .groupBy("week_offset")
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy("week_offset")
  }

  // ---- R43: snapshot diff (CDC shape) -------------------------------------
  // old = orders; new = orders with ids ≡ 0 (mod 97) dropped, ids ≡ 1
  // (mod 97) repriced, and fresh ids appended — the diff must label
  // every affected key added/removed/changed. One full-outer join on
  // the key comparing row digests; only (key, digest) pairs shuffle,
  // never whole rows.
  def q43SnapshotDiff(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val oldSnap = o.select(col("o_orderkey").as("k"),
      md5(concat_ws("|", col("o_totalprice"), col("o_orderpriority"))).as("dg"))
    val newSnap = o
      .filter(col("o_orderkey") % 97 =!= 0)
      .select(col("o_orderkey").as("k"),
        md5(concat_ws("|",
          when(col("o_orderkey") % 97 === 1, col("o_totalprice") + 1.0)
            .otherwise(col("o_totalprice")),
          col("o_orderpriority"))).as("dg"))
      .union(o.filter(col("o_orderkey") % 97 === 2)
        .select((col("o_orderkey") + 10000000L).as("k"),
          md5(concat_ws("|", col("o_totalprice"), col("o_orderpriority"))).as("dg")))
    oldSnap.join(newSnap.withColumnRenamed("dg", "dg_new"), Seq("k"), "full_outer")
      .select(col("k"),
        when(col("dg").isNull, "added")
          .when(col("dg_new").isNull, "removed")
          .when(col("dg") =!= col("dg_new"), "changed")
          .as("change"))
      .filter(col("change").isNotNull)
      .orderBy("k")
  }

  // ---- R44: group top-k via mergeable aggregate ---------------------------
  // q7's result (top-3 orders per customer) through the bounded-heap
  // group top-k (graft.operators.Sketches.groupTopK, shared with the S17
  // streaming fold) instead of a window: the window form funnels EVERY
  // row of a group into one task; the aggregate keeps the reduce side
  // O(partitions × k) with map-side partials — the shape that survives
  // a hot-key 100× scale-up. Same (score desc, id asc) ranking, so the
  // window SQL is the oracle.
  def q44GroupTopkAgg(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sketches.groupTopK(t(s, dir, "orders"),
        Seq(col("o_custkey")), col("o_totalprice"), col("o_orderkey"), k = 3)
      .select(col("o_custkey"), col("id").as("o_orderkey"),
        col("score").as("o_totalprice"), col("rk").as("rn"))
      .orderBy("o_custkey", "rn")

  // ---- R45: CDC MERGE / upsert apply -------------------------------------
  // Applies a CDC batch (update / delete / insert ops) to a snapshot —
  // the MERGE INTO shape, q43's diff run in reverse. Scale posture: the
  // snapshot (the 100 TB side) joins the batch with a LEFT join + a
  // LEFT ANTI for inserts, both broadcastable when the batch is small —
  // the snapshot itself never shuffles. (A full-outer formulation would
  // force both sides to exchange; Spark can't broadcast full-outer.)
  // The batch is derived deterministically from the snapshot keys so
  // the oracle can replay the exact construction.
  def q45MergeUpsert(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val snap = o.select(col("o_orderkey").as("k"),
      col("o_totalprice").as("price"), col("o_orderpriority").as("priority"))
    val m = col("o_orderkey") % 101
    val batch = o.filter(m.isin(1, 2, 3)).select(
      when(m === 3, col("o_orderkey") + 20000000L)
        .otherwise(col("o_orderkey")).as("k"),
      when(m === 1, "U").when(m === 2, "D").otherwise("I").as("op"),
      when(m === 1, col("o_totalprice") + 1.0)
        .when(m === 3, col("o_totalprice")).as("price"),
      when(m === 1, col("o_orderpriority"))
        .when(m === 3, lit("5-LOW")).as("priority"))
    graft.operators.Merge.applyCdc(snap, batch, "k", withAction = true)
      .orderBy("k")
  }

  // ---- R46: time-series resample + forward fill ---------------------------
  // pandas `series.resample('1D').last().ffill()` re-expressed: per-user
  // daily grid over each user's own [first, last] purchase-day span,
  // gaps carried forward from the last observed value. Scale posture:
  // the last-per-bucket step is a mergeable max(struct(...)) aggregate
  // (one shuffle, map-side partials — NOT a per-bucket window); the grid
  // explodes O(output) rows; the fill is the canonical per-key window
  // (the one unavoidable per-user sort). Reference surface:
  // pandas resample/ffill ≈ bertrand's datetime unit handling
  // (util/time/unit.pyx) applied column-wise.
  def q46ResampleFfill(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir).filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"),
        unix_timestamp(col("ts")).as("es"), col("value"))
      .withColumn("ds", expr("es div 86400"))
    // argmax by (es, event_id) via lexicographic struct max: value rides
    // along and is never compared (event_id is unique).
    val lastPerDay = e.groupBy("user_id", "ds")
      .agg(max(struct(col("es"), col("event_id"), col("value"))).as("m"))
      .select(col("user_id"), col("ds"), col("m.value").as("v_obs"))
    val grid = e.groupBy("user_id")
      .agg(min("ds").as("d0"), max("ds").as("d1"))
      .select(col("user_id"), explode(sequence(col("d0"), col("d1"))).as("ds"))
    val w = Window.partitionBy("user_id").orderBy("ds")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(lastPerDay, Seq("user_id", "ds"), "left")
      .select(col("user_id"), col("ds"),
        last(col("v_obs"), ignoreNulls = true).over(w).as("value"),
        col("v_obs").isNotNull.as("observed"))
      .orderBy("user_id", "ds")
  }

  // ---- R47: SCD Type-2 history build --------------------------------------
  // Slowly-changing-dimension history from a versioned change feed:
  // per key (customer), consecutive same-value versions collapse, each
  // surviving version gets [valid_from, valid_to) via lead(), the open
  // interval is the current row. Feed = each customer's orders in
  // (date, orderkey) order with o_orderpriority as the tracked
  // attribute. One partition-key shuffle serves both window passes
  // (same spec → Spark fuses; the dedup filter runs between them).
  def q47Scd2(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("k").orderBy("ts", "oid")
    val feed = t(s, dir, "orders").select(col("o_custkey").as("k"),
      unix_timestamp(col("o_orderdate")).as("ts"),
      col("o_orderkey").as("oid"), col("o_orderpriority").as("attr"))
    feed
      .withColumn("prev", lag("attr", 1).over(w))
      .filter(col("prev").isNull || col("attr") =!= col("prev"))
      .withColumn("valid_to", lead("ts", 1).over(w))
      .select(col("k"), col("ts").as("valid_from"), col("oid"), col("attr"),
        col("valid_to"), col("valid_to").isNull.as("is_current"))
      .orderBy("k", "valid_from", "oid")
  }

  // ---- R48: windowed COUNT(DISTINCT) --------------------------------------
  // Cumulative distinct-count per key — COUNT(DISTINCT) OVER, which
  // Spark has no native window form for. Emulated as
  // size(collect_set() over frame): ONE partition-key shuffle, frame
  // state bounded by the type cardinality (5 here). For unbounded
  // cardinality the scale form is the first-occurrence-flag
  // decomposition (rn=1 per (key, value) → cumsum per key — two
  // shuffles), which is exactly how the oracle replays this.
  def q48WindowCountDistinct(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("es", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events(s, dir)
      .select(col("user_id"), unix_timestamp(col("ts")).as("es"),
        col("event_id"), col("event_type"))
      .withColumn("n_distinct_types", size(collect_set(col("event_type")).over(w)))
      .select("user_id", "es", "event_id", "n_distinct_types")
      .orderBy("user_id", "es", "event_id")
  }

  // ---- R49: interval-overlap concurrency ----------------------------------
  // Concurrent-session load per hour: q24's sessions exploded onto the
  // hour grid they overlap (sequence explode — sessions are gap-capped
  // so spans are bounded; output-proportional, never a quadratic
  // interval join), then a plain count + distinct-user count per hour.
  // The "how many X were active at time T" sweep every ops/analytics
  // stack needs, composed from the sessionizer.
  def q49HourConcurrency(s: SparkSession, dir: String): DataFrame =
    q24Sessionize(s, dir)
      .withColumn("h", explode(sequence(
        expr("start_s div 3600"), expr("(start_s + dur_s) div 3600"))))
      .groupBy("h")
      .agg(count(lit(1)).as("n_sessions"),
        countDistinct("user_id").as("n_users"))
      .select((col("h") * 3600).as("hour_s"), col("n_sessions"), col("n_users"))
      .orderBy("hour_s")

  // ---- R50: per-group statistical profile (mode + exact quantiles) -------
  // The describe-per-group surface: event volume, distinct users,
  // exact p25/median/p75 of value, and the modal day-of-week with a
  // deterministic (count desc, dow asc) tie-break. Two aggregations
  // shuffle on the same low-cardinality group key (map-side partials);
  // the mode window runs over the tiny (group × 7) count table, never
  // the events. Exact percentiles keep a value→count map per group —
  // the verification twin; approx_percentile's t-digest is the
  // documented 100 TB swap (same contract as q32).
  def q50GroupMode(s: SparkSession, dir: String): DataFrame = {
    // dayofweek() is 1=Sunday..7; shift to DuckDB's 0=Sunday..6
    val e = events(s, dir).select(col("event_type"),
      (dayofweek(col("ts")) - 1).as("dow"), col("value"), col("user_id"))
    val stats = e.groupBy("event_type").agg(
      count(lit(1)).as("n_events"),
      countDistinct("user_id").as("n_users"),
      round(expr("percentile(value, 0.25)"), 6).as("p25_value"),
      round(expr("percentile(value, 0.5)"), 6).as("med_value"),
      round(expr("percentile(value, 0.75)"), 6).as("p75_value"))
    val dowCnt = e.groupBy("event_type", "dow").agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("event_type").orderBy(col("cnt").desc, col("dow"))
    val mode = dowCnt.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("event_type"), col("dow").as("mode_dow"),
        col("cnt").as("mode_dow_n"))
    stats.join(mode, Seq("event_type")).orderBy("event_type")
  }

  // ---- R51: native session_window sessionization -------------------------
  // q24's sessions through Spark's NATIVE session_window aggregate —
  // one groupBy carries the merge logic (no lag window + cumsum
  // composition), state is per-open-session (the streaming-capable
  // form). Microsecond-exact: SessionWindowSpec pins the boundary rule
  // (an exact-gap event MERGES; a new session needs gap strictly
  // greater), and the oracle replays that rule on epoch-microseconds.
  // The body is graft.operators.SeriesStats.sessionTotals, which the S18
  // stream runs under its watermark.
  def q51SessionWindow(s: SparkSession, dir: String): DataFrame =
    graft.operators.SeriesStats.sessionTotals(events(s, dir), "30 minutes")
      .orderBy("user_id", "start_s")

  // ---- R52: hop-bounded BFS reachability ---------------------------------
  // Graph traversal as iterative DataFrame joins: the co-purchase graph
  // (parts sharing an order) walked breadth-first from a seed set, hop
  // count bounded. Per round: frontier ⋈ edges (equi-join on src) →
  // anti-join against visited (first discovery = min distance, exactly
  // the oracle's MIN(dist) over the recursive closure). Scale shape:
  // the edges (a multigraph: no edge-level distinct) shuffle once into
  // a cache, and bfs's count of that cache picks its regime. Up to
  // Graphs.DriverEdges rows (sf0.01 and below) one collect brings them
  // to the driver, which runs the rounds; above it (sf0.1) the cache
  // persists across the distributed rounds, each of which shuffles
  // only the frontier's matched destinations, never the visited set's
  // payload. Pair generation is a self-join per order key — linear,
  // not quadratic, because order size is bounded (~7 items).
  def q52BfsReach(s: SparkSession, dir: String): DataFrame = Settle.scope("q52_bfs_reach") { st =>
    val li = t(s, dir, "lineitem").select(col("l_orderkey").as("ok"),
      col("l_partkey").as("pk"))
    // no edge-level distinct: the per-round distinct on matched
    // destinations dedupes anyway, and skipping it saves a full
    // edge-table shuffle (the multigraph probes identically)
    // repartition before caching: AQE would coalesce the ~40 MB join
    // output into 1-2 cached partitions, serializing every BFS probe
    // round (the pageRank lesson) — one extra shuffle buys 32-way
    // probe parallelism for all 3 rounds
    // SHUFFLE_HASH on the build side: the per-order self-join keys
    // carry ~7 rows each, so the per-partition hash build is bounded
    // and the two 600k-row sorts a sort-merge join pays are pure
    // overhead (guide §3.1; measured 2-3x on this join at sf0.1)
    val edges = st.cache(li.as("a").join(li.as("b").hint("SHUFFLE_HASH"), Seq("ok"))
      .filter(col("a.pk") =!= col("b.pk"))
      .select(col("a.pk").as("src"), col("b.pk").as("dst"))
      .repartition(col("src")))
    val seeds = t(s, dir, "part").filter(col("p_size") === 50)
      .select(col("p_partkey").as("node"))
    graft.operators.Graphs.bfs(edges, seeds, maxHops = 3).orderBy("node")
      .select(col("node").as("p_partkey"), col("dist"))
  }

  // ---- R53: time-RANGE sliding window -------------------------------------
  // Trailing 1-hour activity per user — a RANGE frame over event-time
  // seconds (all rows within 3599 s, however many), not a ROWS frame
  // (q37's shape). The frame bound is data-valued, so tied timestamps
  // are in/out together in both engines. One partition-key shuffle
  // serves both frames (same window spec); sums are exact decimals.
  def q53RangeFrame(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("es"))
      .rangeBetween(-3599L, 0L)
    events(s, dir)
      .select(col("user_id"), unix_timestamp(col("ts")).as("es"),
        col("event_id"), dec(col("value")).as("v"))
      .withColumn("n_1h", count(lit(1)).over(w))
      .withColumn("sum_1h", sum(col("v")).over(w).cast(DoubleType))
      .select("user_id", "es", "event_id", "n_1h", "sum_1h")
      .orderBy("user_id", "es", "event_id")
  }

  // ---- R54: salted skew join ----------------------------------------------
  // Hot-key join through operators.SkewJoin: 70% of events collapse
  // onto one synthetic hot key, then join the customer dim salted —
  // the hot key spreads over 8 (key, salt) tasks instead of one
  // straggler, the dim replicates 8×(tiny), and row multiplicity is
  // provably unchanged, which is exactly what the plain-join oracle
  // certifies. The manual remedy for when AQE skew-split can't apply
  // (co-partitioned downstream, non-sort-merge plans).
  def q54SaltedJoin(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir).select(
      when(col("user_id") % 10 < 7, lit(0L)).otherwise(col("user_id")).as("k"),
      dec(col("value")).as("v"))
    val dim = t(s, dir, "customer")
      .select(col("c_custkey").as("k"), col("c_mktsegment").as("seg"))
    graft.operators.SkewJoin.saltedJoin(e, dim, "k", salt = 8)
      .groupBy("seg")
      .agg(count(lit(1)).as("n"), sum(col("v")).cast(DoubleType).as("total_value"))
      .orderBy("seg")
  }

  // ---- R55: incremental materialized-view maintenance ---------------------
  // A per-customer order summary maintained incrementally
  // (operators.Merge.mergeAggState): history partials (before 1999)
  // fold with the delta's partials (1999+) — the history is aggregated
  // ONCE and never re-read; only per-key partial rows shuffle in the
  // fold. avg derives at read time from the mergeable (cnt, sum)
  // state. The oracle recomputes from scratch over the full table —
  // a hash match proves fold == full recompute.
  def q55IncrementalMv(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders").select(col("o_custkey").as("k"),
      unix_timestamp(col("o_orderdate")).as("ts"),
      dec(col("o_totalprice")).as("v"))
    val cutoff = 915148800L // 1999-01-01 UTC
    val state = graft.operators.Merge.aggPartials(
      o.filter(col("ts") < cutoff), Seq("k"), col("v"))
    val delta = graft.operators.Merge.aggPartials(
      o.filter(col("ts") >= cutoff), Seq("k"), col("v"))
    graft.operators.Merge.mergeAggState(state, delta, Seq("k"))
      .select(col("k"), col("cnt"),
        col("sum_v").cast(DoubleType).as("total"),
        col("min_v").cast(DoubleType).as("lo"),
        col("max_v").cast(DoubleType).as("hi"),
        round(col("sum_v").cast(DoubleType) / col("cnt"), 6).as("avg_price"))
      .orderBy("k")
  }

  // ---- R56: merge_asof direction/tolerance grid ---------------------------
  // q27's as-of completed to the full pandas merge_asof surface
  // (operators.AsOfJoin.asofDirected): backward WITH tolerance 900 s,
  // forward, and nearest (tie → backward, pinned) — each purchase
  // matched to its view under all three rules in one result row. The
  // oracle derives the matched times from first principles (correlated
  // MIN/MAX over the view times) rather than replaying the window
  // plan, so a hash match certifies the SEMANTICS, not the plan.
  def q56AsofDirections(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir).select(col("event_id"), col("user_id"),
      unix_timestamp(col("ts")).as("es"), col("event_type"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "es")
    val views = e.filter(col("event_type") === "view")
      .groupBy(col("user_id"), col("es").as("v_es"))
      .agg(max("event_id").as("v_id"))
      .select("user_id", "v_es", "v_id")
    def run(d: String, tol: Option[Long], p: String) =
      graft.operators.AsOfJoin.asofDirected(purchases, views,
          keyCols = Seq("user_id"), leftTime = "es", rightTime = "v_es",
          rightVals = Seq("v_id"), direction = d, tolerance = tol)
        .select(col("event_id"), col("r_v_id").as(s"${p}_id"),
          col("r_v_es").as(s"${p}_es"))
    purchases
      .join(run("backward", Some(900L), "b"), Seq("event_id"))
      .join(run("forward", None, "f"), Seq("event_id"))
      .join(run("nearest", None, "n"), Seq("event_id"))
      .orderBy("event_id")
  }

  // ---- R57: survivorship golden record ------------------------------------
  // MDM survivorship (operators.Merge.goldenRecord): the customer's
  // order feed with deterministically PLANTED attribute gaps — each
  // attribute independently keeps its latest non-null value, so a
  // sparse later version does not erase an earlier attribute (the
  // difference from q47's last-row-wins SCD). One mergeable arg-max
  // aggregation, one shuffle, no windows; the oracle replays with
  // IGNORE NULLS last_value windows.
  def q57GoldenRecord(s: SparkSession, dir: String): DataFrame = {
    val feed = t(s, dir, "orders").select(
      col("o_custkey").as("k"),
      unix_timestamp(col("o_orderdate")).as("ts"),
      col("o_orderkey").as("oid"),
      when(col("o_orderkey") % 3 =!= 0, col("o_orderpriority")).as("pri"),
      when(col("o_orderkey") % 4 =!= 0,
        dec(col("o_totalprice")).cast(DoubleType)).as("price"),
      when(col("o_orderkey") % 5 =!= 0, col("o_orderstatus")).as("status"))
    graft.operators.Merge.goldenRecord(feed, Seq("k"), "ts", "oid",
        Seq("pri", "price", "status"))
      .orderBy("k")
  }

  // ---- R58: custom DataSource V2 end-to-end -------------------------------
  // The graftbin DSv2 source (sources.GraftBinary*) driven through a
  // real query: nation converted to .gbn files (one per region →
  // disjoint footer stats), read back through the TableProvider with
  // column pruning + stats file-skipping live, joined against the
  // parquet region dim — a mixed-source broadcast join. The oracle
  // runs on the parquet originals, so a hash match proves the custom
  // source's decode path end to end.
  def q58CustomSource(s: SparkSession, dir: String): DataFrame = {
    val tmp = scratchDir("q58", dir)
    graft.sources.GraftBinary.write(
      t(s, dir, "nation").select(
        col("n_nationkey").cast(LongType).as("n_nationkey"),
        col("n_name"),
        col("n_regionkey").cast(LongType).as("n_regionkey")),
      tmp, filesBy = "n_regionkey")
    val nation = s.read.format("graft.sources.GraftBinarySource").load(tmp)
    nation.filter(col("n_regionkey") <= 2L) // skips 2 of 5 files
      .join(broadcast(t(s, dir, "region")
        .select(col("r_regionkey").cast(LongType).as("n_regionkey"),
          col("r_name"))), Seq("n_regionkey"))
      .groupBy("r_name")
      .agg(count(lit(1)).as("n_nations"), min("n_name").as("first_nation"))
      .orderBy("r_name")
  }

  // ---- R59: PageRank (fixed iterations) ------------------------------------
  // operators.Graphs.pageRank on the bipartite supplier→customer
  // purchase graph (customer ids offset out of the supplier id space):
  // 3 rounds of r' = (1−d)/N + d·Σ r(u)/deg(u), per-edge contributions
  // rounded to 9 decimals and summed as exact decimals so every
  // iteration replays bit-for-bit in the unrolled SQL oracle. The
  // edges shuffle once into a cache, and one bounded collect of it
  // picks the regime: up to Graphs.DriverEdges rows (sf0.01 and below)
  // the rounds run on the driver over the collected edges, with no job
  // per round; above it (sf0.1, about 600k edges) each round is one
  // broadcast probe of the cache against the driver's rank vector.
  def q59PageRank(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
      .select(col("l_suppkey").as("src"), col("l_orderkey").as("ok"))
    val o = t(s, dir, "orders").select(col("o_orderkey").as("ok"),
      (col("o_custkey") + 1000000L).as("dst"))
    // SHUFFLE_HASH on the orders side: o_orderkey is unique (1-row
    // hash build per key) so the build is bounded, and the sort-merge
    // default pays two full sorts just to attach one dst per edge
    // (guide §3.1, the q52/q61 measurement)
    val edges = li.join(o.hint("SHUFFLE_HASH"), Seq("ok")).select("src", "dst")
    graft.operators.Graphs.pageRank(edges, iters = 3).orderBy("node")
  }

  // ---- R61: triangle counting ---------------------------------------------
  // Per-part triangle counts on the co-purchase graph (q52's edge
  // construction): degree-ordered orientation keeps every
  // out-neighborhood O(√m) so the wedge join is O(m^1.5) worst-case —
  // hub-safe where a naive neighbor join is Σ deg² — and counts each
  // triangle exactly once. The oracle orients by part id instead
  // (same triangle set — orientation only picks the canonical corner
  // order), so a hash-match proves the degree-ordered plan exact.
  def q61Triangles(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem").select(col("l_orderkey").as("ok"),
      col("l_partkey").as("pk"))
    // canonical pairs only (pk < pk): triangleCounts accepts any edge
    // form, but emitting one orientation halves the self-join output.
    // SHUFFLE_HASH: bounded per-key build (~7 items/order), skips both
    // sorts of the sort-merge plan (guide §3.1, the q52 measurement)
    val edges = li.as("a").join(li.as("b").hint("SHUFFLE_HASH"),
        col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
      .select(col("a.pk").as("src"), col("b.pk").as("dst"))
    graft.operators.Graphs.triangleCounts(edges)
      .select(col("node").as("p_partkey"), col("n_tri"))
      .orderBy("p_partkey")
  }

  // ---- R77: graph profile (datasheet) --------------------------------------
  /** Whole-graph structural datasheet over the part co-purchase graph
    * — the graph-STATISTICS read q52/q59/q61/q70 (which compute per-
    * node answers) don't give, and the graph sibling of p4's corpus
    * datasheet: one row of `n_nodes`, `n_edges`, `n_wedges`
    * (Σ C(deg,2)), `n_triangles`, the global clustering coefficient
    * C = 3T/W (transitivity), and the degree assortativity r
    * (Newman 2002) — the Pearson correlation of endpoint degrees over
    * directed edge listings, computed from the scale-free integer
    * kernels (M·Σxy − (Σx)², M·Σx² − (Σx)²) staged in DECIMAL(38,0)
    * (the t61 discipline; exact while M·Σx² < 1e38) with ONE terminal
    * IEEE division each for r and C.
    *
    * Scale shape: [[graft.operators.Graphs.graphProfile]] builds the
    * degrees, moments and triangles over one canonical-edge chain
    * shared with `triangleCounts` (degree-ordered edge iterator,
    * O(m^1.5) worst case, hub-safe; on the driver while the canonical
    * edges number at most `Graphs.DriverEdges`), so the pairs go in
    * as the join emits them: the chain's own distinct dedupes them. */
  def q77GraphProfile(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
    // SHUFFLE_HASH: the q61 pick (bounded per-key build, no sorts)
    val edges = li.as("a").join(li.as("b").hint("SHUFFLE_HASH"),
        col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
      .select(col("a.pk").as("src"), col("b.pk").as("dst"))
    graft.operators.Graphs.graphProfile(edges)
  }

  // ---- R36: bloom-pruned semi-join ---------------------------------------
  // Manual runtime filtering (operators.BloomPrune): a bloom over the
  // urgent orders' keys prunes lineitem BEFORE its shuffle; the exact
  // semi-join then removes the bloom's false positives, so the result
  // equals the plain semi-join (the oracle). The 100 TB shape: only
  // the ~1/5 of the fact table that can possibly match pays the
  // exchange.
  def q36BloomSemijoin(s: SparkSession, dir: String): DataFrame = {
    val urgent = t(s, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
    graft.operators.BloomPrune.semiJoinPruned(
        t(s, dir, "lineitem"), urgent, "l_orderkey", "o_orderkey",
        expectedItems = 200000L)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_items"),
        dsum(dec(col("l_extendedprice"))).as("sum_price"))
      .orderBy("l_returnflag")
  }

  // ---- R62: Z-order multi-dimensional clustering --------------------------
  /** Z-order layout audit (`operators.ZOrder`): orders clustered on
    * (customer, order-day) via 32-bit Morton interleave, top-8-bit
    * z-buckets (256), per-bucket footer-stat spans on BOTH dimensions.
    * The 100 TB story: files written in z-bucket order give a
    * rectangle predicate (customer range × date range) tight min/max
    * pruning on every clustered column simultaneously — the Delta/
    * Iceberg ZORDER BY idea expressed as pure codegen'd bit
    * arithmetic, replayed bit-for-bit by the oracle's identical
    * magic-number spread. Map-only + one 256-group aggregate; no sort,
    * no sampled range boundaries, fully deterministic. The per-bucket
    * stats are [[graft.operators.ZOrder.bucketStats]] over the data's
    * broadcast extents; the S15 streaming fold runs the same operator
    * over pinned ones. */
  def q62Zorder(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders").select(
      col("o_custkey").cast(LongType).as("a"),
      datediff(col("o_orderdate"), to_date(lit("1970-01-01")))
        .cast(LongType).as("b"))
    graft.operators.ZOrder.layoutStats(o, col("a"), col("b"), 8)
      .orderBy("zb")
  }

  // ---- R63: overlapping-interval merge (interval union) -------------------
  /** Merge overlapping/touching intervals per user — the interval-UNION
    * operator (calendar consolidation, uptime stitching, coverage
    * length) that q24/q51 (point gaps) and q49 (grid overlap counts)
    * don't express. Events carry a deterministic duration (60 +
    * event_id % 600 s, epoch-second integers); the sweep lives in
    * [[graft.operators.Intervals.merge]] — island detection + fold in
    * ONE user-key shuffle, and the per-user rollup here rides the same
    * hash partitioning, so the whole query is a single shuffle
    * (PlanAuditSpec-guarded). Touching intervals (start == prev end)
    * merge. All arithmetic is exact integer seconds — bit-identical
    * replay; S16 streams the same operator as an associative fold. */
  def q63IntervalMerge(s: SparkSession, dir: String): DataFrame = {
    val iv = events(s, dir)
      .select(col("user_id"), col("event_id"),
        unix_timestamp(col("ts")).as("ss"))
      .withColumn("ee", col("ss") + lit(60L) + pmod(col("event_id"), lit(600L)))
      .select(col("user_id"), col("ss"), col("ee"), lit(1L).as("n"))
    graft.operators.Intervals.merge(iv, "user_id")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_intervals"),
        sum(col("m_end") - col("m_start")).as("covered_s"),
        max(col("m_end") - col("m_start")).as("longest_s"),
        max(col("n_events")).as("max_merged"))
      .orderBy("user_id")
  }

  // ---- R64: weighted median ----------------------------------------------
  /** Per-group WEIGHTED median — the l_quantity-weighted median of
    * l_extendedprice per (returnflag, linestatus), the order-statistic
    * operator q32/q50 (unweighted) don't express. Rule: in (price,
    * orderkey, linenumber) ascending order the weighted median is the
    * first value whose running weight reaches half the total weight
    * (2·cumw ≥ totw) — a pinned discrete rule, no interpolation
    * ambiguity. Weights accumulate as exact DECIMAL (an IEEE window
    * sum would be order-fragile), so the qualifying set is
    * bit-identical on both engines; and because that set is a SUFFIX
    * of the sort order, the answer reads back as MIN(price) over the
    * qualifiers — no second window, no row_number. One shuffle: the
    * cumulative and total windows and the final groupBy all ride the
    * same (flag, status) hash partitioning. The mergeable 100 TB swap
    * is q60's two-pass histogram summing WEIGHT (not 1) per grid
    * cell; this exact form is its verification twin. */
  def q64WeightedMedian(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem").select(
      col("l_returnflag"), col("l_linestatus"),
      col("l_orderkey"), col("l_linenumber"),
      dec(col("l_quantity")).as("w"),
      dec(col("l_extendedprice")).as("price"))
    val part = Window.partitionBy("l_returnflag", "l_linestatus")
    val ord = part.orderBy("price", "l_orderkey", "l_linenumber")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // group totals via ONE map-side-combined aggregate broadcast back
    // (r14, guide §2.3): the former whole-partition totw/n windows were
    // a second WindowExec pass that buffered every 6-fat-group
    // partition in memory just to attach two per-group constants.
    // sum(decimal) is exact and identical through either path.
    val totals = li.groupBy("l_returnflag", "l_linestatus")
      .agg(sum(col("w")).as("totw"), count(lit(1)).as("n"))
    li.withColumn("cumw", sum(col("w")).over(ord))
      .join(broadcast(totals), Seq("l_returnflag", "l_linestatus"))
      .filter(col("cumw") * 2 >= col("totw"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(max(col("n")).as("n_rows"),
        max(col("totw")).cast(DoubleType).as("tot_qty"),
        min(col("price")).cast(DoubleType).as("wmed_price"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  // ---- R65: skyline (Pareto frontier) -------------------------------------
  /** Per-brand part skyline: cheapest-for-the-size Pareto frontier over
    * (p_retailprice minimize, p_size maximize) — the DOMINANCE operator
    * (Börzsönyi et al. ICDE'01) no groupBy/window above expresses: a
    * part survives iff no same-brand part is ≤ price AND ≥ size with
    * one strict. Plan ([[graft.operators.Skyline]]): dedup to distinct
    * (brand, price, size) with multiplicity + min-key representative
    * (equal points never dominate each other), then a shuffle-FREE
    * per-partition frontier prune (skyline is distributive:
    * skyline(A∪B) = skyline(skyline(A)∪skyline(B)), so only local
    * frontiers reach the exchange), then the global frontier as one
    * strictly-preceding running-max window per brand. All compares on
    * exact 2-dp doubles and ints — no arithmetic at all, so both
    * engines decide identical dominance. */
  def q65Skyline(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "part")
      .groupBy(col("p_brand"), col("p_retailprice").as("price"),
        col("p_size").cast(LongType).as("size"))
      .agg(count(lit(1)).as("n_parts"), min("p_partkey").as("min_partkey"))
    graft.operators.Skyline
      .skyline(d, "p_brand", "price", "size", "n_parts", "min_partkey")
      .orderBy("p_brand", "price", "size")
  }

  // ---- R66: time-weighted average (TWAP) ----------------------------------
  /** Time-weighted average value per user — the TWAP read (each value
    * HOLDS from its event until the next one, so sparse-in-time values
    * weight by duration, not tick count — vs q1/q55's per-row means).
    * Weight = microseconds to the successor (lead); the last event has
    * no successor and carries zero weight (pinned rule — dropped from
    * the average). Numerator Σ(cents·w) accumulates as exact
    * DECIMAL(38,0) integer-cent×µs products and denominator Σw as
    * BIGINT — order-free at any partitioning, no IEEE window-sum
    * ambiguity. The quotient is pinned to an exact 10⁻⁶-dollar grid:
    * `twap_e6 = (num·10⁴) div held_us` is an exact integral division
    * on both engines (Spark div = BigDecimal.divideToIntegralValue;
    * DuckDB // on HUGEINT — all operands positive, so trunc ≡ floor),
    * and `twap = twap_e6 / 10⁶` is ONE IEEE division of two
    * exactly-representable operands — bit-identical everywhere, unlike
    * the raw num/den double quotient (demonstrably 1 ulp apart between
    * engines). ONE shuffle: the lead window and the user groupBy share
    * the user-key hash partitioning (PlanAuditSpec-guarded). */
  def q66Twap(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("us", "event_id")
    events(s, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"),
        (dec(col("value")) * lit(100)).cast(LongType).as("v_cents"))
      .withColumn("nxt", lead("us", 1).over(w))
      .filter(col("nxt").isNotNull)
      .withColumn("wt", col("nxt") - col("us"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_held"),
        sum(col("wt")).as("held_us"),
        // cents cast to DECIMAL(20,0) BEFORE the µs multiply: the
        // per-row product can graze Long.Max at year-long gaps, and
        // the corpus sum certainly overflows long at scale.
        sum(col("v_cents").cast(DecimalType(20, 0)) * col("wt"))
          .as("num_cents"))
      .withColumn("twap_e6", expr("(num_cents * 10000) div held_us"))
      .select(col("user_id"), col("n_held"), col("held_us"),
        col("twap_e6"),
        (col("twap_e6").cast(DoubleType) / lit(1000000.0)).as("twap"))
      .orderBy("user_id")
  }

  // ---- R67: event-transition (Markov) matrix -------------------------------
  /** First-order Markov transition matrix over per-user event
    * sequences — the "what happens after X" product-analytics read
    * (next-event prediction base, journey mining) that q41 (fixed
    * funnel) and q24 (gap sessions) don't express. Consecutive pairs
    * come from ONE lag window on the user key; the (prev, cur) count
    * table is event-type² sized, so the per-prev row totals and the
    * probability division run on that tiny table (a prev-keyed window
    * — no corpus-sized second pass, no self-join). p = n/tot is one
    * IEEE division replayed identically. Shuffles: the user window +
    * the pair groupBy + a type²-table window — only the first two
    * touch event-scale data. Pairs, counts and probabilities are
    * [[graft.operators.SeriesStats]]'s, shared with the S22 fold. */
  def q67EventTransitions(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.SeriesStats._
    transitionProbs(transitionCounts(withPrevType(events(s, dir)
        .select(col("user_id"), unix_timestamp(col("ts")).as("es"),
          col("event_id"), col("event_type")), "es")))
      .orderBy("prev_type", "cur_type")
  }

  // ---- R68: within-session co-occurrence + lift ----------------------------
  /** Market-basket co-occurrence over q24's gap sessions: for every
    * UNORDERED event-type pair, in how many sessions do both occur,
    * and the lift n_ab·N / (n_a·n_b) — the association read q67's
    * ordered transitions and q41's fixed funnel don't give (lift > 1 =
    * the pair co-occurs beyond independence). Sessions come from the
    * exact q24 lag/cumsum assignment; the pair self-join runs on the
    * DISTINCT (session, type) table, so per-session work is bounded by
    * the type cardinality squared (never events²), and the per-type
    * session counts + the session total ride broadcast joins onto the
    * type²-sized pair table. Lift = exact integer products and ONE
    * IEEE division, replayed identically. */
  def q68SessionCooccurrence(s: SparkSession, dir: String): DataFrame = Settle.scope("q68_session_cooccurrence") { st =>
    val w = Window.partitionBy("user_id").orderBy("es", "event_id")
    val sess = st.cache(events(s, dir)
      .select(col("user_id"), unix_timestamp(col("ts")).as("es"),
        col("event_id"), col("event_type"))
      .withColumn("prev", lag("es", 1).over(w))
      .withColumn("new_s",
        when(col("prev").isNull || col("es") - col("prev") > 1800, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum("new_s").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("user_id"), col("session_id"), col("event_type"))
      .distinct())
    val nSess = sess.select("user_id", "session_id").distinct()
      .agg(count(lit(1)).as("n_sess"))
    val perType = sess.groupBy(col("event_type").as("tp"))
      .agg(count(lit(1)).as("n_t"))
    val pairs = sess.as("a")
      .join(sess.as("b"),
        col("a.user_id") === col("b.user_id") &&
          col("a.session_id") === col("b.session_id") &&
          col("a.event_type") < col("b.event_type"))
      .groupBy(col("a.event_type").as("type_a"),
        col("b.event_type").as("type_b"))
      .agg(count(lit(1)).as("n_ab"))
    pairs
      .join(broadcast(perType.withColumnRenamed("tp", "type_a")
        .withColumnRenamed("n_t", "n_a")), Seq("type_a"))
      .join(broadcast(perType.withColumnRenamed("tp", "type_b")
        .withColumnRenamed("n_t", "n_b")), Seq("type_b"))
      .crossJoin(broadcast(nSess))
      .select(col("type_a"), col("type_b"), col("n_ab"), col("n_a"),
        col("n_b"),
        ((col("n_ab") * col("n_sess")).cast(DoubleType) /
          (col("n_a") * col("n_b")).cast(DoubleType)).as("lift"))
      .orderBy("type_a", "type_b")
  }

  // ---- R69: bucketed co-located join ---------------------------------------
  /** The pay-the-shuffle-once-at-ingest story as a driver-checked
    * query: orders and lineitem are written as BUCKETED tables (8
    * buckets on their join keys, bucket-sorted — `sources.Bucketed`),
    * then the fact join reads co-located buckets with NO Exchange at
    * all (bucketing metadata satisfies the join's distribution, the
    * sortBy satisfies SMJ ordering; plan-audited: the only hash
    * exchange in the whole query is the tiny per-year aggregate).
    * At 100 TB this is the difference between shuffling the fact
    * table per query and never shuffling it again. Result provably
    * equals the plain join (the oracle), so correctness certifies the
    * semantics while the audit certifies the plan. */
  def q69BucketedJoin(s: SparkSession, dir: String): DataFrame = {
    // md5 of the dataset dir, not hashCode: same collision concern as
    // the q71-q73 scratchDir — two dirs must never share bucket tables
    val sfx = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).map(b => f"$b%02x").mkString.take(12)
    graft.sources.Bucketed.write(
      t(s, dir, "orders").select(col("o_orderkey"), col("o_orderdate")),
      s"graft_q69_orders_$sfx", "o_orderkey", 8)
    graft.sources.Bucketed.write(
      t(s, dir, "lineitem").select(col("l_orderkey"),
        dec(col("l_extendedprice")).as("price")),
      s"graft_q69_lineitem_$sfx", "l_orderkey", 8)
    graft.sources.Bucketed.join(s, s"graft_q69_lineitem_$sfx",
        s"graft_q69_orders_$sfx", "l_orderkey", "o_orderkey")
      .groupBy(year(col("o_orderdate")).as("o_year"))
      .agg(count(lit(1)).as("n_items"), dsum(col("price")).as("revenue"))
      .orderBy("o_year")
  }

  // ---- R70: hierarchical subtree rollup ------------------------------------
  /** Parent-child HIERARCHY aggregation (category trees, org charts,
    * account rollups — SQL's recursive-CTE rollup): every node's total
    * includes all its descendants. The customer keys form a synthetic
    * binary forest (parent = ⌊k/2⌋, root 1), each node valued at its
    * exact DECIMAL order revenue (0 if orderless); the rollup is
    * [[graft.operators.Graphs.subtreeRollup]] — the ancestor closure
    * by pointer DOUBLING (5 equi-join rounds cover depth 32: each
    * round composes the pair set with itself, so a 30-deep hierarchy
    * costs log₂ shuffles, not 30 chained joins) + ONE value join +
    * ONE ancestor groupBy. Pairs are Σdepth(n) rows — inherent to
    * the closure, each round checkpoint-settled. */
  def q70HierarchyRollup(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer").select(col("c_custkey").as("node"))
    val edges = cust.select(col("node"),
        (col("node") / lit(2)).cast(LongType).as("parent"))
      .filter(col("parent") >= 1)
    val rev = t(s, dir, "orders").groupBy(col("o_custkey").as("node"))
      .agg(sum(dec(col("o_totalprice"))).as("r"))
    val values = cust.join(rev, Seq("node"), "left")
      .select(col("node"),
        coalesce(col("r"), lit(0).cast(DecimalType(22, 2))).as("value"))
    graft.operators.Graphs.subtreeRollup(edges, values, rounds = 5)
      .select(col("node"), col("subtree_n"),
        col("subtree_val").cast(DoubleType).as("subtree_rev"))
      .orderBy("node")
  }

  // ---- R71: partition-pruned read ------------------------------------------
  /** q69's directory-layout sibling: events written as a HIVE-style
    * partitioned layout (one directory per event_type,
    * `sources.Bucketed.writePartitioned`), then a type-scoped
    * aggregate whose predicate prunes to matching DIRECTORIES at
    * planning time — the scan never opens the other partitions'
    * files (plan-audited: PartitionFilters carries the predicate, and
    * the same query over the unpartitioned source is the oracle). At
    * 100 TB this is the date/source-sliced query reading only its
    * slice of the corpus. */
  /** Scratch path for queries that must WRITE a layout before reading
    * it back (q71/q72/q73) — keyed by the md5 of the full dataset dir
    * (hashCode could collide two different dirs into one scratch,
    * mixing batches mid-read). Deliberately stable per (tag, dir), not
    * per-invocation: Spark reads the path lazily AFTER the builder
    * returns, so the dir must outlive the call; reruns just overwrite
    * with identical content. */
  private def scratchDir(tag: String, dir: String): String = {
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_${tag}_$key").getAbsolutePath
  }

  def q71PartitionPruning(s: SparkSession, dir: String): DataFrame = {
    val path = scratchDir("q71", dir)
    graft.sources.Bucketed.writePartitioned(
      events(s, dir).select(col("event_id"), col("user_id"),
        unix_timestamp(col("ts")).as("es"), col("value"), col("event_type")),
      path, "event_type")
    s.read.parquet(path)
      .filter(col("event_type").isin("view", "purchase"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), countDistinct("user_id").as("n_users"),
        dsum(dec(col("value"))).as("total_value"))
      .orderBy("event_type")
  }

  // ---- R72: schema-evolution read (mergeSchema) ----------------------------
  /** Data-lake schema evolution: two parquet batches of one table
    * written with DIFFERENT schemas — the later batch ADDS a column —
    * read back through `mergeSchema`, so early rows surface the added
    * column as null and one aggregate proves the evolved read equals
    * the logical union (the oracle recomputes it from the source
    * table). The append-only lake's most common migration exercised
    * end to end: schema resolution at READ time — at 100 TB you never
    * rewrite history to add a column. */
  def q72SchemaEvolution(s: SparkSession, dir: String): DataFrame = {
    val path = scratchDir("q72", dir)
    val o = t(s, dir, "orders")
    o.filter(year(col("o_orderdate")) <= 1995)
      .select(col("o_orderkey"), dec(col("o_totalprice")).as("price"))
      .write.mode("overwrite").parquet(path + "/b=1")
    o.filter(year(col("o_orderdate")) > 1995)
      .select(col("o_orderkey"), dec(col("o_totalprice")).as("price"),
        concat(lit("ch"), col("o_orderkey") % 3).as("channel"))
      .write.mode("overwrite").parquet(path + "/b=2")
    s.read.option("mergeSchema", "true").parquet(path)
      .groupBy(coalesce(col("channel"), lit("legacy")).as("channel"))
      .agg(count(lit(1)).as("n"), dsum(col("price")).as("revenue"))
      .orderBy("channel")
  }

  // ---- R73: corrupt-record ingestion (PERMISSIVE JSON) ---------------------
  /** Malformed-input ingestion semantics: a JSONL batch with every 7th
    * record truncated mid-object, read in PERMISSIVE mode — parsed
    * fields null, the raw line preserved in `_corrupt_record` — then
    * one aggregate splits good rows per lang from the corrupt bucket.
    * The contract a 100 TB crawl ingest actually needs: bad records
    * QUARANTINED with evidence, never dropped silently, never failing
    * the job; the oracle recomputes the verdict per row from the
    * corruption rule. */
  def q73CorruptRecords(s: SparkSession, dir: String): DataFrame = {
    val path = scratchDir("q73", dir)
    val js = t(s, dir, "documents")
      .select(col("doc_id"),
        to_json(struct(col("doc_id"), col("lang"), col("n_chars"))).as("j"))
      .select(when(col("doc_id") % 7 === 0,
          expr("substring(j, 1, length(j) - 1)")) // chop the closing brace
        .otherwise(col("j")).as("value"))
    js.write.mode("overwrite").text(path)
    s.read
      .schema("doc_id LONG, lang STRING, n_chars LONG, _corrupt_record STRING")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(path)
      .groupBy(when(col("_corrupt_record").isNotNull, "_corrupt")
        .otherwise(col("lang")).as("grp"))
      .agg(count(lit(1)).as("n"), sum("n_chars").as("sum_chars"))
      .orderBy("grp")
  }

  // ---- R74: conversion attribution (first/last touch) ----------------------
  /** Marketing attribution: for every purchase, the FIRST and LAST
    * preceding `view` by the same user, plus the prior-view count —
    * first-touch / last-touch credit in ONE user-key window pass
    * (IGNORE-NULLS conditional first/last over the strictly-preceding
    * frame; no self-join, no per-purchase probe — at 100 TB the
    * events shuffle once by user and every attribution rides that
    * sort). The (es, event_id) compound ordering makes the frame
    * deterministic under ties. */
  def q74Attribution(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("es", "event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val viewId = when(col("event_type") === "view", col("event_id"))
    events(s, dir)
      .select(col("user_id"), unix_timestamp(col("ts")).as("es"),
        col("event_id"), col("event_type"))
      .withColumn("first_view_id", first(viewId, ignoreNulls = true).over(w))
      .withColumn("last_view_id", last(viewId, ignoreNulls = true).over(w))
      .withColumn("n_prior_views",
        count(when(col("event_type") === "view", 1)).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("es"),
        col("first_view_id"), col("last_view_id"), col("n_prior_views"))
      .orderBy("user_id", "event_id")
  }

  // ---- R75: distribution-position window functions -------------------------
  /** percent_rank / cume_dist / ntile per customer over the spend
    * ordering — the distribution-position window family q7/q8/q37/q53
    * don't cover (rank→relative-position, peer-inclusive cumulative
    * share, equal-height tiling). The compound (price, orderkey)
    * ordering makes every peer group a single row, so percent_rank =
    * (rn−1)/(n−1) and cume_dist = rn/n are single pinned IEEE
    * divisions of exact integers in both engines, and NTILE's
    * first-(n mod k)-buckets-get-one-extra fill is deterministic.
    * Key-partitioned window — no global sort, AQE-splittable. */
  def q75WindowPercentiles(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy("o_totalprice", "o_orderkey")
    t(s, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      .withColumn("pct_rank", percent_rank().over(w))
      .withColumn("cume", cume_dist().over(w))
      .withColumn("tile4", ntile(4).over(w))
      .orderBy("o_custkey", "o_orderkey")
  }

  // ---- R76: point-in-time (temporal) dimension join ------------------------
  /** The warehouse companion of q47: facts joined to an SCD2 dimension
    * AS OF a past instant — each order looks up the attribute version
    * that was in force 30 days BEFORE its own date (early facts
    * predate all history and read null). The key insight this query
    * pins: because SCD2 validity intervals TILE per key (each
    * valid_to = the next valid_from), interval-containment lookup
    * `valid_from ≤ t < valid_to` is EXACTLY a backward as-of join on
    * valid_from — no range join, no valid_to check needed; same-instant
    * version stacks (two changes at one timestamp → a zero-length
    * interval) resolve to the LAST version by the (ts, oid) feed order,
    * carried through the as-of tie-break.
    *
    * Scale shape: [[graft.operators.AsOfJoin.asof]]'s union+window
    * composition — dim and facts shuffle ONCE on the custkey, the fill
    * rides that single Exchange+Sort; the oracle derives the match
    * from first principles (containment argmax), certifying the
    * SEMANTICS of the as-of reduction, not the plan. */
  def q76TemporalDimJoin(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("k").orderBy("ts", "oid")
    val feed = t(s, dir, "orders").select(col("o_custkey").as("k"),
      unix_timestamp(col("o_orderdate")).as("ts"),
      col("o_orderkey").as("oid"), col("o_orderpriority").as("attr"))
    val dim = feed
      .withColumn("prev", lag("attr", 1).over(w))
      .filter(col("prev").isNull || col("attr") =!= col("prev"))
      .select(col("k"), col("ts").as("valid_from"),
        col("oid").as("ver_oid"), col("attr"))
    val facts = t(s, dir, "orders").select(col("o_custkey").as("k"),
      col("o_orderkey"),
      (unix_timestamp(col("o_orderdate")) - lit(2592000L)).as("as_at"))
    graft.operators.AsOfJoin.asof(facts, dim, Seq("k"), "as_at",
        "valid_from", Seq("attr", "valid_from", "ver_oid"),
        rightTieBreak = Some("ver_oid"))
      .select(col("k"), col("o_orderkey"), col("as_at"),
        col("r_attr").as("attr"), col("r_valid_from").as("attr_since"),
        col("r_ver_oid").as("ver_oid"))
      .orderBy("o_orderkey")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q76_temporal_dim_join" -> q76TemporalDimJoin _,
    "q75_window_percentiles" -> q75WindowPercentiles _,
    "q74_attribution" -> q74Attribution _,
    "q72_schema_evolution" -> q72SchemaEvolution _,
    "q73_corrupt_records" -> q73CorruptRecords _,
    "q71_partition_pruning" -> q71PartitionPruning _,
    "q70_hierarchy_rollup" -> q70HierarchyRollup _,
    "q69_bucketed_join" -> q69BucketedJoin _,
    "q68_session_cooccurrence" -> q68SessionCooccurrence _,
    "q67_event_transitions" -> q67EventTransitions _,
    "q66_twap" -> q66Twap _,
    "q65_skyline" -> q65Skyline _,
    "q64_weighted_median" -> q64WeightedMedian _,
    "q63_interval_merge" -> q63IntervalMerge _,
    "q62_zorder" -> q62Zorder _,
    "q36_bloom_semijoin" -> q36BloomSemijoin _,
    "q37_window_fns" -> q37WindowFns _,
    "q38_multi_exists" -> q38MultiExists _,
    "q39_set_ops" -> q39SetOps _,
    "q40_set_ops_all" -> q40SetOpsAll _,
    "q41_funnel" -> q41Funnel _,
    "q42_cohort_retention" -> q42CohortRetention _,
    "q43_snapshot_diff" -> q43SnapshotDiff _,
    "q44_group_topk_agg" -> q44GroupTopkAgg _,
    "q45_merge_upsert" -> q45MergeUpsert _,
    "q46_resample_ffill" -> q46ResampleFfill _,
    "q47_scd2" -> q47Scd2 _,
    "q48_window_count_distinct" -> q48WindowCountDistinct _,
    "q49_hour_concurrency" -> q49HourConcurrency _,
    "q50_group_mode" -> q50GroupMode _,
    "q51_session_window" -> q51SessionWindow _,
    "q52_bfs_reach" -> q52BfsReach _,
    "q53_range_frame" -> q53RangeFrame _,
    "q54_salted_join" -> q54SaltedJoin _,
    "q55_incremental_mv" -> q55IncrementalMv _,
    "q56_asof_directions" -> q56AsofDirections _,
    "q57_golden_record" -> q57GoldenRecord _,
    "q58_custom_source" -> q58CustomSource _,
    "q59_pagerank" -> q59PageRank _,
    "q60_sketch_quantiles" -> q60SketchQuantiles _,
    "q61_triangles" -> q61Triangles _,
    "q77_graph_profile" -> q77GraphProfile _,
    "q35_mean_pool" -> q35MeanPool _,
    "q34_json_extract" -> q34JsonExtract _,
    "q33_theta_overlap" -> q33ThetaOverlap _,
    "q32_quantiles" -> q32Quantiles _,
    "q30_sketch_distinct" -> q30SketchDistinct _,
    "q31_hash_sample" -> q31HashSample _,
    "q27_asof_join" -> q27AsofJoin _,
    "q28_range_join" -> q28RangeJoin _,
    "q29_asof_native" -> q29AsofNative _,
    "q1_agg" -> q1Agg _,
    "q2_filter_project" -> q2FilterProject _,
    "q3_join_agg" -> q3JoinAgg _,
    "q4_semijoin" -> q4Semijoin _,
    "q5_multi_join" -> q5MultiJoin _,
    "q6_scan_agg" -> q6ScanAgg _,
    "q7_window_rank" -> q7WindowRank _,
    "q8_running_sum" -> q8RunningSum _,
    "q9_distinct" -> q9Distinct _,
    "q10_having" -> q10Having _,
    "q11_antijoin" -> q11Antijoin _,
    "q12_union" -> q12Union _,
    "q13_outerjoin_agg" -> q13OuterjoinAgg _,
    "q14_case_agg" -> q14CaseAgg _,
    "q15_scalar_subq" -> q15ScalarSubq _,
    "q16_groupagg_topk" -> q16GroupaggTopk _,
    "q17_or_pred" -> q17OrPred _,
    "q18_in_subq" -> q18InSubq _,
    "q19_rollup" -> q19Rollup _,
    "q20_cube" -> q20Cube _,
    "q21_pivot" -> q21Pivot _,
    "q22_sort_limit" -> q22SortLimit _,
    "q23_events_bucket" -> q23EventsBucket _,
    "q24_sessionize" -> q24Sessionize _,
    "q25_grouping_sets" -> q25GroupingSets _,
    "q26_full_outer" -> q26FullOuter _,
  )
}
