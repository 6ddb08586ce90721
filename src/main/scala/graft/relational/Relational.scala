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
  // TopKAgg instead of a window: the window form funnels EVERY row of
  // a group into one task; the aggregate keeps the reduce side
  // O(partitions × k) with map-side partials — the shape that survives
  // a hot-key 100× scale-up. Same (score desc, id asc) ranking, so the
  // window SQL is the oracle.
  def q44GroupTopkAgg(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge
    val tk = ColumnBridge.column(graft.expressions.TopKAgg(
      ColumnBridge.expression(col("o_totalprice")),
      ColumnBridge.expression(col("o_orderkey")), k = 3).toAggregateExpression())
    t(s, dir, "orders")
      .groupBy("o_custkey").agg(tk.as("tk"))
      .select(col("o_custkey"), posexplode(col("tk")).as(Seq("pos", "e")))
      .select(col("o_custkey"), col("e.id").as("o_orderkey"),
        col("e.score").as("o_totalprice"),
        (col("pos") + 1).cast(IntegerType).as("rn"))
      .orderBy("o_custkey", "rn")
  }

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
  def q51SessionWindow(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"), dsum(dec(col("value"))).as("total_value"))
      .select(col("user_id"),
        unix_timestamp(col("sw.start")).as("start_s"),
        unix_timestamp(col("sw.end")).as("end_s"),
        col("n_events"), col("total_value"))
      .orderBy("user_id", "start_s")

  // ---- R52: hop-bounded BFS reachability ---------------------------------
  // Graph traversal as iterative DataFrame joins: the co-purchase graph
  // (parts sharing an order) walked breadth-first from a seed set, hop
  // count bounded. Per round: frontier ⋈ edges (equi-join on src) →
  // anti-join against visited (first discovery = min distance, exactly
  // the oracle's MIN(dist) over the recursive closure). Scale shape:
  // edges dedup-shuffle ONCE and persist across rounds; each round
  // shuffles only the frontier (shrinking), never the visited set's
  // payload; pair generation is a self-join per order key — linear,
  // not quadratic, because order size is bounded (~7 items). Rounds
  // are driver-sequenced but all data movement is distributed — the
  // connectedComponents idiom, here with a full DuckDB oracle.
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
  // iteration replays bit-for-bit in the unrolled SQL oracle. One
  // key-shuffle per iteration; edges/degrees persist across rounds.
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
    * O(m^1.5) worst case, hub-safe), so the pairs go in as the join
    * emits them: the chain's own distinct dedupes them. */
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
    * no sampled range boundaries, fully deterministic. */
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
    * touch event-scale data. */
  def q67EventTransitions(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("es", "event_id")
    events(s, dir)
      .select(col("user_id"), unix_timestamp(col("ts")).as("es"),
        col("event_id"), col("event_type"))
      .withColumn("prev_type", lag("event_type", 1).over(w))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type").as("cur_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("tot",
        sum("n").over(Window.partitionBy("prev_type")))
      .select(col("prev_type"), col("cur_type"), col("n"),
        (col("n").cast(DoubleType) / col("tot").cast(DoubleType)).as("p"))
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

  private val rev = revenueSql // DuckDB fragment

  /** q59 oracle: the three PageRank rounds unrolled — identical
    * 9-decimal contribution rounding, exact decimal sums, identical
    * IEEE damping blend ((1.0 - 0.85) evaluated as doubles on both
    * engines). */
  private def q59OracleSql: String = {
    def round(i: Int): String =
      s"""c$i AS (SELECT e.dst AS node,
         |    SUM(CAST(ROUND(r.rank / d.deg, 9) AS DECIMAL(28,9))) AS sc
         |  FROM e JOIN r${i - 1} r ON e.src = r.node
         |  JOIN deg d ON e.src = d.src
         |  GROUP BY e.dst),
         |r$i AS (SELECT nodes.node,
         |    (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / n
         |      + CAST(0.85 AS DOUBLE) * COALESCE(CAST(sc AS DOUBLE), 0.0)
         |      AS rank
         |  FROM nodes CROSS JOIN nn LEFT JOIN c$i ON nodes.node = c$i.node)"""
        .stripMargin
    s"""WITH e AS (SELECT l_suppkey AS src, o_custkey + 1000000 AS dst
       |    FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
       |nn AS (SELECT COUNT(*) AS n FROM nodes),
       |deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
       |r0 AS (SELECT node, CAST(1.0 AS DOUBLE) / n AS rank
       |  FROM nodes CROSS JOIN nn),
       |${round(1)},
       |${round(2)},
       |${round(3)}
       |SELECT node, ROUND(rank, 9) AS rank FROM r3 ORDER BY node"""
      .stripMargin
  }

  val oracles: Map[String, String] = Map(
    // q76: the match derived from FIRST PRINCIPLES — containment
    // argmax (latest valid_from <= as_at, ties to max ver_oid) over
    // the same SCD2 dim — certifying the as-of reduction's semantics
    "q76_temporal_dim_join" ->
      """WITH feed AS (SELECT o_custkey AS k,
        |    CAST(FLOOR(epoch(CAST(o_orderdate AS TIMESTAMP))) AS BIGINT)
        |      AS ts,
        |    o_orderkey AS oid, o_orderpriority AS attr FROM orders),
        |dim AS (SELECT k, ts AS valid_from, oid AS ver_oid, attr FROM (
        |    SELECT k, ts, oid, attr,
        |      LAG(attr) OVER (PARTITION BY k ORDER BY ts, oid) AS prev
        |    FROM feed) t
        |  WHERE prev IS NULL OR attr <> prev),
        |facts AS (SELECT o_custkey AS k, o_orderkey,
        |    CAST(FLOOR(epoch(CAST(o_orderdate AS TIMESTAMP))) AS BIGINT)
        |      - 2592000 AS as_at FROM orders),
        |cand AS (SELECT f.o_orderkey, d.attr, d.valid_from, d.ver_oid,
        |    ROW_NUMBER() OVER (PARTITION BY f.o_orderkey
        |      ORDER BY d.valid_from DESC, d.ver_oid DESC) AS rn
        |  FROM facts f JOIN dim d ON f.k = d.k AND d.valid_from <= f.as_at)
        |SELECT f.k, f.o_orderkey, f.as_at, c.attr,
        |  c.valid_from AS attr_since, c.ver_oid AS ver_oid
        |FROM facts f LEFT JOIN (SELECT * FROM cand WHERE rn = 1) c
        |  ON f.o_orderkey = c.o_orderkey
        |ORDER BY f.o_orderkey""".stripMargin,
    // q75: identical single-row-peer window (compound ordering), so
    // both engines derive the same exact-integer divisions; ntile cast
    // to INT (DuckDB's is BIGINT)
    "q75_window_percentiles" ->
      """SELECT o_custkey, o_orderkey, o_totalprice,
        |  percent_rank() OVER w AS pct_rank,
        |  cume_dist() OVER w AS cume,
        |  CAST(ntile(4) OVER w AS INT) AS tile4
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey
        |  ORDER BY o_totalprice, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    // q74: the same strictly-preceding IGNORE-NULLS window pass in
    // DuckDB (epoch seconds derived identically; compound tiebreak)
    "q74_attribution" ->
      """WITH e AS (SELECT user_id,
        |    CAST(FLOOR(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS es,
        |    event_id, event_type FROM events),
        |wv AS (SELECT user_id, es, event_id, event_type,
        |    FIRST_VALUE(CASE WHEN event_type = 'view' THEN event_id END
        |      IGNORE NULLS) OVER w AS first_view_id,
        |    LAST_VALUE(CASE WHEN event_type = 'view' THEN event_id END
        |      IGNORE NULLS) OVER w AS last_view_id,
        |    COUNT(CASE WHEN event_type = 'view' THEN 1 END)
        |      OVER w AS n_prior_views
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY es, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
        |SELECT user_id, event_id, es, first_view_id, last_view_id,
        |  n_prior_views
        |FROM wv WHERE event_type = 'purchase'
        |ORDER BY user_id, event_id""".stripMargin,
    // q72: the evolved read must equal the logical union recomputed
    // straight from the source table
    "q72_schema_evolution" ->
      """SELECT CASE WHEN year(o_orderdate) <= 1995 THEN 'legacy'
        |    ELSE 'ch' || CAST(o_orderkey % 3 AS VARCHAR) END AS channel,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
        |FROM orders GROUP BY 1 ORDER BY channel""".stripMargin,
    // q73: per-row quarantine verdict recomputed from the corruption
    // rule (every 7th record truncated); corrupt rows sum to NULL
    "q73_corrupt_records" ->
      """SELECT CASE WHEN doc_id % 7 = 0 THEN '_corrupt' ELSE lang END AS grp,
        |  COUNT(*) AS n,
        |  CAST(SUM(CASE WHEN doc_id % 7 = 0 THEN NULL ELSE n_chars END)
        |    AS BIGINT) AS sum_chars
        |FROM documents GROUP BY 1 ORDER BY grp""".stripMargin,
    // q71: the same aggregate over the UNPARTITIONED source — the hash
    // match proves the pruned layout changed file reads, not results
    "q71_partition_pruning" ->
      """SELECT event_type, COUNT(*) AS n,
        |  COUNT(DISTINCT user_id) AS n_users,
        |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
        |FROM events WHERE event_type IN ('view', 'purchase')
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // q70: the textbook recursive-CTE rollup — semantics truth for the
    // pointer-doubling closure; same ⌊k/2⌋ forest, same exact decimals
    "q70_hierarchy_rollup" ->
      """WITH RECURSIVE
        |n AS (SELECT c_custkey AS node FROM customer),
        |e AS (SELECT node, node // 2 AS parent FROM n WHERE node // 2 >= 1),
        |v AS (SELECT n.node, COALESCE(r.r, 0) AS value FROM n
        |  LEFT JOIN (SELECT o_custkey AS node,
        |      SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS r
        |    FROM orders GROUP BY 1) r USING (node)),
        |a AS (SELECT node AS d, node AS anc FROM n
        |  UNION ALL
        |  SELECT a.d, e.parent FROM a JOIN e ON a.anc = e.node)
        |SELECT a.anc AS node, COUNT(*) AS subtree_n,
        |  CAST(SUM(v.value) AS DOUBLE) AS subtree_rev
        |FROM a JOIN v ON a.d = v.node
        |GROUP BY a.anc ORDER BY node""".stripMargin,
    // q69: the PLAIN join — a hash match proves the bucketed read
    // changed the plan, not the result
    "q69_bucketed_join" ->
      """SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
        |  COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
        |    AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY o_year""".stripMargin,
    // q68: identical q24 session assignment, distinct (session, type)
    // sets, unordered pair join, and the exact-integer-product lift
    "q68_session_cooccurrence" ->
      """WITH e AS (SELECT user_id,
        |    CAST(FLOOR(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS es,
        |    event_id, event_type FROM events),
        |l AS (SELECT *, LAG(es, 1) OVER (PARTITION BY user_id
        |      ORDER BY es, event_id) AS prev FROM e),
        |f AS (SELECT *, CASE WHEN prev IS NULL OR es - prev > 1800
        |      THEN 1 ELSE 0 END AS new_s FROM l),
        |sn AS (SELECT user_id, event_type,
        |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY es, event_id
        |      ROWS UNBOUNDED PRECEDING) AS session_id FROM f),
        |st AS (SELECT DISTINCT user_id, session_id, event_type FROM sn),
        |ns AS (SELECT COUNT(*) AS n_sess FROM
        |  (SELECT DISTINCT user_id, session_id FROM st)),
        |pt AS (SELECT event_type AS tp, COUNT(*) AS n_t FROM st GROUP BY 1),
        |pr AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
        |    COUNT(*) AS n_ab
        |  FROM st a JOIN st b ON a.user_id = b.user_id
        |    AND a.session_id = b.session_id
        |    AND a.event_type < b.event_type
        |  GROUP BY 1, 2)
        |SELECT type_a, type_b, n_ab, pa.n_t AS n_a, pb.n_t AS n_b,
        |  CAST(n_ab * ns.n_sess AS DOUBLE)
        |    / CAST(pa.n_t * pb.n_t AS DOUBLE) AS lift
        |FROM pr
        |JOIN pt pa ON pr.type_a = pa.tp
        |JOIN pt pb ON pr.type_b = pb.tp
        |CROSS JOIN ns
        |ORDER BY type_a, type_b""".stripMargin,
    // q67: identical lag pairing + counts; probability the same single
    // IEEE division over the per-prev window total
    "q67_event_transitions" ->
      """WITH e AS (SELECT user_id,
        |    CAST(FLOOR(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS es,
        |    event_id, event_type FROM events),
        |l AS (SELECT user_id, event_type AS cur_type,
        |    LAG(event_type, 1) OVER (PARTITION BY user_id
        |      ORDER BY es, event_id) AS prev_type
        |  FROM e),
        |c AS (SELECT prev_type, cur_type, COUNT(*) AS n
        |  FROM l WHERE prev_type IS NOT NULL GROUP BY 1, 2)
        |SELECT prev_type, cur_type, n,
        |  CAST(n AS DOUBLE) / CAST(SUM(n) OVER (PARTITION BY prev_type)
        |    AS DOUBLE) AS p
        |FROM c ORDER BY prev_type, cur_type""".stripMargin,
    // q65: first-principles dominance anti-join over the same deduped
    // (brand, price, size) set — certifies SEMANTICS, not the plan
    // (the Spark side proves the two-pass scan equals this definition)
    "q65_skyline" ->
      """WITH d AS (SELECT p_brand, p_retailprice AS price,
        |    CAST(p_size AS BIGINT) AS size, COUNT(*) AS n_parts,
        |    MIN(p_partkey) AS min_partkey
        |  FROM part GROUP BY 1, 2, 3)
        |SELECT p_brand, price, size, n_parts, min_partkey FROM d a
        |WHERE NOT EXISTS (SELECT 1 FROM d b WHERE b.p_brand = a.p_brand
        |  AND b.price <= a.price AND b.size >= a.size
        |  AND (b.price < a.price OR b.size > a.size))
        |ORDER BY p_brand, price, size""".stripMargin,
    // q66: identical successor weights (lead), exact integer-cent×µs
    // HUGEINT numerator + BIGINT denominator sums, the identical
    // integral division onto the 10⁻⁶-dollar grid (// ≡ Spark div for
    // positive operands), one exactly-representable IEEE division
    "q66_twap" ->
      """WITH e AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
        |    event_id,
        |    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS v_cents
        |  FROM events),
        |l AS (SELECT user_id, us, event_id, v_cents,
        |    LEAD(us, 1) OVER (PARTITION BY user_id
        |      ORDER BY us, event_id) AS nxt
        |  FROM e),
        |g AS (SELECT user_id, COUNT(*) AS n_held,
        |    CAST(SUM(nxt - us) AS BIGINT) AS held_us,
        |    SUM(CAST(v_cents AS HUGEINT) * (nxt - us)) AS num_cents
        |  FROM l WHERE nxt IS NOT NULL GROUP BY user_id)
        |SELECT user_id, n_held, held_us,
        |  CAST((num_cents * 10000) // NULLIF(held_us, 0) AS BIGINT)
        |    AS twap_e6,
        |  CAST(CAST((num_cents * 10000) // NULLIF(held_us, 0) AS BIGINT)
        |    AS DOUBLE) / 1000000.0 AS twap
        |FROM g ORDER BY user_id""".stripMargin,
    // q64: identical pinned rule — exact DECIMAL running/total weights,
    // qualifier suffix read back as MIN(price)
    "q64_weighted_median" ->
      """WITH li AS (SELECT l_returnflag, l_linestatus, l_orderkey,
        |    l_linenumber, CAST(l_quantity AS DECIMAL(12,2)) AS w,
        |    CAST(l_extendedprice AS DECIMAL(12,2)) AS price FROM lineitem),
        |cw AS (SELECT l_returnflag, l_linestatus, price,
        |    SUM(w) OVER (PARTITION BY l_returnflag, l_linestatus
        |      ORDER BY price, l_orderkey, l_linenumber
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumw,
        |    SUM(w) OVER (PARTITION BY l_returnflag, l_linestatus) AS totw,
        |    COUNT(*) OVER (PARTITION BY l_returnflag, l_linestatus) AS n
        |  FROM li)
        |SELECT l_returnflag, l_linestatus, MAX(n) AS n_rows,
        |  CAST(MAX(totw) AS DOUBLE) AS tot_qty,
        |  CAST(MIN(price) AS DOUBLE) AS wmed_price
        |FROM cw WHERE cumw * 2 >= totw
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    // q63: identical sweep — prev-max-end lag frame, running island
    // sum, two-level fold; exact integer-seconds arithmetic throughout
    "q63_interval_merge" ->
      """WITH iv AS (SELECT user_id, event_id,
        |    CAST(FLOOR(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS ss,
        |    CAST(FLOOR(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT)
        |      + 60 + event_id % 600 AS ee
        |  FROM events),
        |sw AS (SELECT user_id, event_id, ss, ee,
        |    MAX(ee) OVER (PARTITION BY user_id ORDER BY ss, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS prev_end
        |  FROM iv),
        |fl AS (SELECT user_id, event_id, ss, ee,
        |    CASE WHEN prev_end IS NULL OR ss > prev_end THEN 1
        |         ELSE 0 END AS opens
        |  FROM sw),
        |isl AS (SELECT user_id, ss, ee,
        |    SUM(opens) OVER (PARTITION BY user_id ORDER BY ss, event_id
        |      ROWS UNBOUNDED PRECEDING) AS island
        |  FROM fl),
        |mg AS (SELECT user_id, island, MIN(ss) AS m_start,
        |    MAX(ee) AS m_end, COUNT(*) AS n_events
        |  FROM isl GROUP BY user_id, island)
        |SELECT user_id, COUNT(*) AS n_intervals,
        |  CAST(SUM(m_end - m_start) AS BIGINT) AS covered_s,
        |  MAX(m_end - m_start) AS longest_s,
        |  MAX(n_events) AS max_merged
        |FROM mg GROUP BY user_id ORDER BY user_id""".stripMargin,
    // q62: the identical 4-step mask-doubling Morton spread, unrolled
    // per dimension — 64-bit shifts/masks/ors are engine-agnostic
    "q62_zorder" ->
      """WITH o AS (SELECT CAST(o_custkey AS BIGINT) AS a,
        |    CAST(datediff('day', DATE '1970-01-01', o_orderdate)
        |      AS BIGINT) AS b FROM orders),
        |m AS (SELECT MIN(a) AS a_mn, MAX(a) AS a_mx,
        |    MIN(b) AS b_mn, MAX(b) AS b_mx FROM o),
        |n AS (SELECT a, b,
        |    CAST(FLOOR(CAST(a - a_mn AS DOUBLE) * 65536.0
        |      / CAST(a_mx - a_mn + 1 AS DOUBLE)) AS BIGINT) AS na,
        |    CAST(FLOOR(CAST(b - b_mn AS DOUBLE) * 65536.0
        |      / CAST(b_mx - b_mn + 1 AS DOUBLE)) AS BIGINT) AS nb
        |  FROM o, m),
        |s1 AS (SELECT a, b, na & 65535 AS xa, nb & 65535 AS xb FROM n),
        |s2 AS (SELECT *, (xa | (xa << 8)) & 16711935 AS ya,
        |    (xb | (xb << 8)) & 16711935 AS yb FROM s1),
        |s3 AS (SELECT *, (ya | (ya << 4)) & 252645135 AS za,
        |    (yb | (yb << 4)) & 252645135 AS zb2 FROM s2),
        |s4 AS (SELECT *, (za | (za << 2)) & 858993459 AS wa,
        |    (zb2 | (zb2 << 2)) & 858993459 AS wb FROM s3),
        |s5 AS (SELECT a, b, (wa | (wa << 1)) & 1431655765 AS sa,
        |    (wb | (wb << 1)) & 1431655765 AS sb FROM s4),
        |z AS (SELECT a, b, (sa | (sb << 1)) >> 24 AS zb FROM s5)
        |SELECT zb, COUNT(*) AS n_rows,
        |  MIN(a) AS a_min, MAX(a) AS a_max,
        |  MIN(b) AS b_min, MAX(b) AS b_max
        |FROM z GROUP BY zb ORDER BY zb""".stripMargin,
    // q52: the BFS first-discovery distance equals MIN(dist) over the
    // depth-bounded recursive closure (UNION dedups exact (node, dist)
    // pairs, so the recursion terminates at dist < 3)
    "q52_bfs_reach" ->
      """WITH RECURSIVE pairs AS (
        |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
        |r(node, dist) AS (
        |  SELECT DISTINCT p_partkey, 0 FROM part WHERE p_size = 50
        |  UNION
        |  SELECT p.dst, r.dist + 1 FROM r JOIN pairs p ON p.src = r.node
        |  WHERE r.dist < 3)
        |SELECT node AS p_partkey, CAST(MIN(dist) AS BIGINT) AS dist
        |FROM r GROUP BY node ORDER BY p_partkey""".stripMargin,
    "q59_pagerank" -> q59OracleSql,
    // q77: same edge/degree/triangle construction; assortativity
    // kernels in HUGEINT reaching double THROUGH VARCHAR (DuckDB's
    // direct HUGEINT→DOUBLE truncates — the t61 find); identical
    // pinned terminal divisions
    "q77_graph_profile" ->
      """WITH li AS (SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |e AS (SELECT DISTINCT a.pk AS src, b.pk AS dst
        |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
        |deg AS (SELECT v, CAST(COUNT(*) AS HUGEINT) AS dg FROM (
        |    SELECT src AS v FROM e UNION ALL SELECT dst FROM e)
        |  GROUP BY v),
        |ds AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
        |    CAST(SUM(dg * (dg - 1) // 2) AS BIGINT) AS n_wedges FROM deg),
        |mo AS (SELECT CAST(COUNT(*) AS HUGEINT) AS m,
        |    SUM(du.dg + dv.dg) AS sx,
        |    SUM(du.dg * du.dg + dv.dg * dv.dg) AS sxx,
        |    SUM(du.dg * dv.dg * 2) AS sxy
        |  FROM e JOIN deg du ON e.src = du.v JOIN deg dv ON e.dst = dv.v),
        |tri AS (SELECT CAST(COUNT(*) AS HUGEINT) * 3 AS tri3
        |  FROM e e1 JOIN e e2 ON e2.src = e1.dst
        |  JOIN e e3 ON e3.src = e1.src AND e3.dst = e2.dst)
        |SELECT n_nodes, CAST(m AS BIGINT) AS n_edges, n_wedges,
        |  CAST(tri3 // 3 AS BIGINT) AS n_triangles,
        |  CASE WHEN n_wedges > 0 THEN
        |    CAST(CAST(tri3 AS VARCHAR) AS DOUBLE)
        |      / CAST(CAST(n_wedges AS VARCHAR) AS DOUBLE) END AS clustering,
        |  CASE WHEN (2 * m * sxx - sx * sx) > 0 THEN
        |    CAST(CAST(2 * m * sxy - sx * sx AS VARCHAR) AS DOUBLE)
        |      / CAST(CAST(2 * m * sxx - sx * sx AS VARCHAR) AS DOUBLE)
        |  END AS assortativity
        |FROM ds, mo, tri""".stripMargin,
    // q61: same triangle set under id-ordered orientation (a<b<c) —
    // orientation only fixes the canonical corner order, so matching
    // per-node counts prove the degree-ordered Spark plan exact
    "q61_triangles" ->
      """WITH li AS (SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |e AS (SELECT DISTINCT a.pk AS u, b.pk AS v
        |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
        |tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
        |  FROM e e1 JOIN e e2 ON e2.u = e1.v
        |  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v)
        |SELECT node AS p_partkey, COUNT(*) AS n_tri FROM (
        |  SELECT a AS node FROM tri
        |  UNION ALL SELECT b FROM tri
        |  UNION ALL SELECT c FROM tri) t
        |GROUP BY node ORDER BY node""".stripMargin,
    // q60: the histogram sketch replayed cell for cell — identical IEEE
    // bucket index ((x−mn)/(mx−mn)·4096 floored, 4095 cap) and edge
    // arithmetic (mn + (mx−mn)/4096·b), thresholds ⌈q·n⌉ in doubles
    "q60_sketch_quantiles" ->
      """WITH src AS (SELECT l_returnflag AS g,
        |    CAST(l_extendedprice AS DOUBLE) AS x FROM lineitem),
        |r AS (SELECT g, MIN(x) AS mn, MAX(x) AS mx, COUNT(*) AS n
        |  FROM src GROUP BY g),
        |h AS (SELECT s.g,
        |    CASE WHEN mx = mn THEN 0
        |      ELSE LEAST(4095, CAST(FLOOR((x - mn) / (mx - mn) * 4096)
        |        AS INT)) END AS b,
        |    COUNT(*) AS c
        |  FROM src s JOIN r ON s.g = r.g GROUP BY 1, 2),
        |cm AS (SELECT g, b, c,
        |    SUM(c) OVER (PARTITION BY g ORDER BY b) AS cum FROM h),
        |j AS (SELECT cm.g, cm.b, cm.cum, r.mn, r.mx, r.n
        |  FROM cm JOIN r ON cm.g = r.g)
        |SELECT g AS l_returnflag,
        |  ROUND(MIN(CASE WHEN cum >= CEIL(CAST(0.25 AS DOUBLE) * n)
        |    THEN mn + (mx - mn) / 4096 * b END), 6) AS p25,
        |  ROUND(MIN(CASE WHEN cum >= CEIL(CAST(0.5 AS DOUBLE) * n)
        |    THEN mn + (mx - mn) / 4096 * b END), 6) AS p50,
        |  ROUND(MIN(CASE WHEN cum >= CEIL(CAST(0.75 AS DOUBLE) * n)
        |    THEN mn + (mx - mn) / 4096 * b END), 6) AS p75,
        |  ROUND(MIN(CASE WHEN cum >= CEIL(CAST(0.9 AS DOUBLE) * n)
        |    THEN mn + (mx - mn) / 4096 * b END), 6) AS p90
        |FROM j GROUP BY g ORDER BY g""".stripMargin,
    // q58: the parquet originals — a match proves the custom source's
    // write/decode round-trip
    "q58_custom_source" ->
      """SELECT r_name, COUNT(*) AS n_nations,
        |  MIN(n_name) AS first_nation
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |WHERE n_regionkey <= 2
        |GROUP BY r_name ORDER BY r_name""".stripMargin,
    // q57: IGNORE NULLS last_value over the same (ts, oid) order — the
    // window form of the arg-max; identical planted gaps
    "q57_golden_record" ->
      """WITH feed AS (SELECT o_custkey AS k,
        |    CAST(FLOOR(epoch(CAST(o_orderdate AS TIMESTAMP))) AS BIGINT)
        |      AS ts,
        |    o_orderkey AS oid,
        |    CASE WHEN o_orderkey % 3 <> 0 THEN o_orderpriority END AS pri,
        |    CASE WHEN o_orderkey % 4 <> 0 THEN
        |      CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) END
        |      AS price,
        |    CASE WHEN o_orderkey % 5 <> 0 THEN o_orderstatus END AS status
        |  FROM orders),
        |w AS (SELECT k,
        |    COUNT(*) OVER (PARTITION BY k) AS n_versions,
        |    LAST_VALUE(pri IGNORE NULLS) OVER wk AS pri,
        |    LAST_VALUE(price IGNORE NULLS) OVER wk AS price,
        |    LAST_VALUE(status IGNORE NULLS) OVER wk AS status,
        |    ROW_NUMBER() OVER (PARTITION BY k ORDER BY ts DESC, oid DESC)
        |      AS rn
        |  FROM feed
        |  WINDOW wk AS (PARTITION BY k ORDER BY ts, oid
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))
        |SELECT k, n_versions, pri, price, status FROM w WHERE rn = 1
        |ORDER BY k""".stripMargin,
    // q56: matched times from first principles (correlated MIN/MAX
    // over view times), values joined back on the unique (user, time)
    // key; same pinned nearest tie rule (exact tie → backward)
    "q56_asof_directions" ->
      """WITH e AS (SELECT event_id, user_id,
        |    CAST(FLOOR(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS es,
        |    event_type FROM events),
        |p AS (SELECT event_id, user_id, es FROM e
        |  WHERE event_type = 'purchase'),
        |v AS (SELECT user_id, es AS v_es, MAX(event_id) AS v_id FROM e
        |  WHERE event_type = 'view' GROUP BY 1, 2),
        |c AS (SELECT p.event_id, p.user_id, p.es,
        |    (SELECT MAX(v_es) FROM v
        |      WHERE v.user_id = p.user_id AND v.v_es <= p.es) AS bt0,
        |    (SELECT MIN(v_es) FROM v
        |      WHERE v.user_id = p.user_id AND v.v_es >= p.es) AS ft
        |  FROM p),
        |d AS (SELECT *,
        |    CASE WHEN bt0 IS NOT NULL AND es - bt0 <= 900 THEN bt0 END AS bt,
        |    CASE WHEN bt0 IS NOT NULL AND (ft IS NULL OR es - bt0 <= ft - es)
        |      THEN bt0 ELSE ft END AS nt
        |  FROM c)
        |SELECT d.event_id, d.user_id, d.es,
        |  vb.v_id AS b_id, d.bt AS b_es,
        |  vf.v_id AS f_id, d.ft AS f_es,
        |  vn.v_id AS n_id, d.nt AS n_es
        |FROM d
        |LEFT JOIN v vb ON vb.user_id = d.user_id AND vb.v_es = d.bt
        |LEFT JOIN v vf ON vf.user_id = d.user_id AND vf.v_es = d.ft
        |LEFT JOIN v vn ON vn.user_id = d.user_id AND vn.v_es = d.nt
        |ORDER BY d.event_id""".stripMargin,
    // q54: the salted join's output provably equals the plain join —
    // that equality IS the check
    "q54_salted_join" ->
      """WITH e AS (SELECT CASE WHEN user_id % 10 < 7 THEN 0
        |      ELSE user_id END AS k,
        |    CAST(value AS DECIMAL(12,2)) AS v FROM events)
        |SELECT c_mktsegment AS seg, COUNT(*) AS n,
        |  CAST(SUM(v) AS DOUBLE) AS total_value
        |FROM e JOIN customer ON k = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // q55: full recompute from scratch — fold == recompute is the
    // incremental-maintenance contract
    "q55_incremental_mv" ->
      """SELECT o_custkey AS k, COUNT(*) AS cnt,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total,
        |  CAST(MIN(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS lo,
        |  CAST(MAX(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS hi,
        |  ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
        |    / COUNT(*), 6) AS avg_price
        |FROM orders GROUP BY o_custkey ORDER BY k""".stripMargin,
    // q53: identical RANGE frame over epoch seconds; decimal-exact sum
    "q53_range_frame" ->
      """WITH e AS (SELECT user_id, event_id,
        |    CAST(FLOOR(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS es,
        |    CAST(value AS DECIMAL(12,2)) AS v FROM events)
        |SELECT user_id, es, event_id,
        |  COUNT(*) OVER w AS n_1h,
        |  CAST(SUM(v) OVER w AS DOUBLE) AS sum_1h
        |FROM e
        |WINDOW w AS (PARTITION BY user_id ORDER BY es
        |  RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, es, event_id""".stripMargin,
    // q51: replay session_window's pinned boundary rule (new session
    // iff gap STRICTLY > 30 min; end = last event + gap) on exact
    // epoch-microsecond integers; // is integer division (micros
    // exceed double's 53-bit mantissa)
    "q51_session_window" ->
      """WITH e AS (SELECT user_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us, value FROM events),
        |l AS (SELECT user_id, us, value,
        |    LAG(us) OVER (PARTITION BY user_id ORDER BY us) AS prev FROM e),
        |s AS (SELECT user_id, us, value,
        |    SUM(CASE WHEN prev IS NULL OR us - prev > 1800000000
        |        THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY us
        |        ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM l)
        |SELECT user_id,
        |  CAST(MIN(us) // 1000000 AS BIGINT) AS start_s,
        |  CAST(MAX(us) // 1000000 AS BIGINT) + 1800 AS end_s,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
        |FROM s GROUP BY user_id, sid ORDER BY user_id, start_s""".stripMargin,
    // q50: identical dow convention (DuckDB dayofweek = 0..6 Sunday
    // first), quantile_cont = Spark's exact interpolating percentile,
    // same deterministic mode tie-break
    "q50_group_mode" ->
      """WITH e AS (SELECT event_type,
        |    dayofweek(CAST(ts AS TIMESTAMP)) AS dow, value, user_id
        |  FROM events),
        |st AS (SELECT event_type, COUNT(*) AS n_events,
        |    COUNT(DISTINCT user_id) AS n_users,
        |    ROUND(quantile_cont(value, 0.25), 6) AS p25_value,
        |    ROUND(quantile_cont(value, 0.5), 6) AS med_value,
        |    ROUND(quantile_cont(value, 0.75), 6) AS p75_value
        |  FROM e GROUP BY 1),
        |dc AS (SELECT event_type, dow, COUNT(*) AS cnt FROM e GROUP BY 1, 2),
        |md AS (SELECT event_type, dow AS mode_dow, cnt AS mode_dow_n,
        |    ROW_NUMBER() OVER (PARTITION BY event_type
        |      ORDER BY cnt DESC, dow) AS rn
        |  FROM dc)
        |SELECT st.event_type, n_events, n_users, p25_value, med_value,
        |  p75_value, mode_dow, mode_dow_n
        |FROM st JOIN md USING (event_type) WHERE rn = 1
        |ORDER BY event_type""".stripMargin,
    "q35_mean_pool" ->
      """SELECT CAST(vec_id % 8 AS INT) AS g, COUNT(*) AS n,
        |  ROUND(AVG(CAST(embedding[1] AS DOUBLE)), 6) AS m1,
        |  ROUND(AVG(CAST(embedding[2] AS DOUBLE)), 6) AS m2,
        |  ROUND(AVG(CAST(embedding[3] AS DOUBLE)), 6) AS m3,
        |  ROUND(AVG(CAST(embedding[4] AS DOUBLE)), 6) AS m4
        |FROM embeddings GROUP BY 1 ORDER BY g""".stripMargin,
    "q34_json_extract" ->
      """SELECT event_type, COUNT(*) AS n, CAST(SUM(k) AS BIGINT) AS sum_k,
        |  MIN(k) AS min_k, MAX(k) AS max_k,
        |  COUNT(CASE WHEN k >= 50 THEN 1 END) AS n_hi
        |FROM (SELECT event_type, CAST(json_extract(props, '$.k') AS INT) AS k
        |      FROM events)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // q30: the md5-HLL replayed register by register — bucket = first
    // 3 hex chars, rho = 53 − bitlength(low 52 bits), MAX per bucket,
    // then αm²/Σ2^−M with the linear-counting branch. The Σ differs
    // only in association order across engines → ROUND(·, 2).
    "q30_sketch_distinct" -> {
      def hll(valueCol: String, alias: String): String = {
        val b3 = (1 to 3).map(i =>
          s"(strpos('0123456789abcdef', substr(hx, $i, 1)) - 1) * ${math.pow(16, 3 - i).toLong}")
          .mkString(" + ")
        val l13 = (4 to 16).map(i =>
          s"(strpos('0123456789abcdef', substr(hx, $i, 1)) - 1) * ${math.pow(16, 16 - i).toLong}")
          .mkString(" + ")
        val m = graft.expressions.HllSketch.M
        // CAST: DuckDB would otherwise parse the literal as DECIMAL(16,16)
        // and overflow on × m²
        val alpha = s"CAST(${graft.expressions.HllSketch.Alpha} AS DOUBLE)"
        s"""${alias}_h AS (SELECT l_returnflag,
           |    md5(CAST($valueCol AS VARCHAR)) AS hx FROM lineitem),
           |${alias}_r AS (SELECT l_returnflag, ($b3) AS bucket,
           |    MAX(CASE WHEN ($l13) = 0 THEN 53
           |        ELSE 53 - length(bin($l13)) END) AS rho
           |  FROM ${alias}_h GROUP BY l_returnflag, ($b3)),
           |${alias}_e AS (SELECT l_returnflag,
           |    SUM(POWER(2.0, -rho)) + ($m - COUNT(*)) AS denom,
           |    $m - COUNT(*) AS zeros
           |  FROM ${alias}_r GROUP BY l_returnflag),
           |${alias}_x AS (SELECT l_returnflag,
           |    ROUND(CASE WHEN $alpha * $m * $m / denom <= 2.5 * $m AND zeros > 0
           |          THEN $m * ln($m.0 / zeros)
           |          ELSE $alpha * $m * $m / denom END, 2) AS $alias
           |  FROM ${alias}_e)""".stripMargin
      }
      s"""WITH ${hll("l_partkey", "nd_parts")},
         |${hll("l_orderkey", "nd_orders")},
         |${hll("l_suppkey", "nd_supps")}
         |SELECT p.l_returnflag, p.nd_parts, o.nd_orders, s.nd_supps
         |FROM nd_parts_x p
         |JOIN nd_orders_x o USING (l_returnflag)
         |JOIN nd_supps_x s USING (l_returnflag)
         |ORDER BY p.l_returnflag""".stripMargin
    },
    // q33: both sides are id-bounded to < 1024 distinct digests at ANY
    // scale factor — the KMV sketch's EXACT regime (kept-hash count
    // below the kth-minimum threshold; theta = 1) — so every estimate
    // provably equals the plain distinct/intersection count and the
    // oracle needs no hash replay. Above k the sketch is spec-bounded
    // instead (ThetaSketchSpec pins the error envelope).
    "q33_theta_overlap" ->
      """WITH a AS (SELECT DISTINCT sha256(text) AS dg FROM documents
        |           WHERE doc_id < 600),
        |b AS (SELECT DISTINCT sha256(text) AS dg FROM documents
        |      WHERE doc_id >= 300 AND doc_id < 1000)
        |SELECT
        |  ROUND(CAST((SELECT COUNT(*) FROM a) AS DOUBLE), 2) AS est_a,
        |  (SELECT COUNT(*) FROM documents WHERE doc_id < 600) AS exact_a,
        |  ROUND(CAST((SELECT COUNT(*) FROM b) AS DOUBLE), 2) AS est_b,
        |  (SELECT COUNT(*) FROM documents
        |   WHERE doc_id >= 300 AND doc_id < 1000) AS exact_b,
        |  ROUND(CAST((SELECT COUNT(*) FROM
        |    (SELECT dg FROM a UNION SELECT dg FROM b) u) AS DOUBLE), 2) AS est_union,
        |  ROUND(CAST((SELECT COUNT(*) FROM a JOIN b USING (dg)) AS DOUBLE), 2)
        |    AS est_intersect""".stripMargin,
    "q32_quantiles" ->
      """SELECT l_returnflag,
        |  ROUND(quantile_cont(l_extendedprice, 0.25), 6) AS p25,
        |  ROUND(quantile_cont(l_extendedprice, 0.5), 6) AS p50,
        |  ROUND(quantile_cont(l_extendedprice, 0.75), 6) AS p75,
        |  ROUND(quantile_cont(l_extendedprice, 0.9), 6) AS p90
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q31_hash_sample" -> {
      val hexVal = (1 to 4).map(i =>
        s"(strpos('0123456789abcdef', substr(md5(CAST(l_orderkey AS VARCHAR) || '_' || CAST(l_linenumber AS VARCHAR)), $i, 1)) - 1) * ${math.pow(16, 4 - i).toLong}")
        .mkString(" + ")
      s"""SELECT l_orderkey, l_linenumber, CAST(($hexVal) % 100 AS INT) AS bucket
         |FROM lineitem WHERE ($hexVal) % 100 < 10
         |ORDER BY l_orderkey, l_linenumber""".stripMargin
    },
    "q27_asof_join" ->
      """WITH e AS (SELECT event_id, user_id,
        |    CAST(FLOOR(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS es,
        |    event_type, value FROM events),
        |p AS (SELECT event_id, user_id, es FROM e WHERE event_type = 'purchase'),
        |v AS (SELECT user_id, es AS v_es, arg_max(event_id, event_id) AS v_id,
        |      arg_max(value, event_id) AS v_value
        |      FROM e WHERE event_type = 'view' GROUP BY user_id, es)
        |SELECT p.event_id, p.user_id, p.es, v.v_id AS r_v_id,
        |  v.v_value AS r_v_value, v.v_es AS r_v_es
        |FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.es >= v.v_es
        |ORDER BY p.event_id""".stripMargin,
    "q29_asof_native" ->
      """WITH e AS (SELECT event_id, user_id,
        |    CAST(FLOOR(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS es,
        |    event_type, value FROM events),
        |p AS (SELECT event_id, user_id, es FROM e WHERE event_type = 'purchase'),
        |v AS (SELECT user_id, es AS v_es, arg_max(event_id, event_id) AS v_id,
        |      arg_max(value, event_id) AS v_value
        |      FROM e WHERE event_type = 'view' GROUP BY user_id, es)
        |SELECT p.event_id, p.user_id, p.es, v.v_id AS r_v_id,
        |  v.v_value AS r_v_value, v.v_es AS r_v_es
        |FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.es >= v.v_es
        |ORDER BY p.event_id""".stripMargin,
    "q28_range_join" ->
      """WITH e AS (SELECT event_id, user_id,
        |    CAST(FLOOR(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS es,
        |    event_type FROM events)
        |SELECT p.user_id, p.event_id AS p_id, x.event_id AS e_id,
        |  p.es AS p_es, x.es AS e_es
        |FROM e p JOIN e x ON p.user_id = x.user_id
        |WHERE p.event_type = 'purchase' AND x.event_type = 'error'
        |  AND ABS(p.es - x.es) <= 3600
        |ORDER BY p_id, e_id""".stripMargin,
    "q1_agg" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  ${dsumSql("l_quantity")} AS sum_qty,
         |  ${dsumSql("l_extendedprice")} AS sum_base_price,
         |  ${decToDoubleSql(s"SUM($rev)")} AS sum_disc_price,
         |  ${decToDoubleSql(s"SUM($rev * (1 + CAST(l_tax AS DECIMAL(12,2))))")} AS sum_charge,
         |  ${dsumSql("l_quantity")} / COUNT(*) AS avg_qty,
         |  ${dsumSql("l_extendedprice")} / COUNT(*) AS avg_price,
         |  ${dsumSql("l_discount")} / COUNT(*) AS avg_disc,
         |  COUNT(*) AS count_order
         |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
         |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q2_filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
        |WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1996-12-31'
        |  AND l_discount > 0.05
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q37_window_fns" ->
      """SELECT o_custkey, o_orderkey,
        |  lag(o_totalprice, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_price,
        |  lead(o_totalprice, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS next_price,
        |  CAST(ntile(4) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS INT) AS quartile,
        |  ROUND(percent_rank() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey), 6) AS pr,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)))
        |    OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |          ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
        |  / (COUNT(*) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |          ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)) AS ma3
        |FROM orders WHERE o_custkey < 200
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    // EXISTS/NOT EXISTS in the set-based Q21 rewrite (DuckDB 1.0's
    // binder rejects the doubly-correlated NOT EXISTS form): "another
    // supplier participated" = the order has ≥ 2 distinct suppliers;
    // "no other supplier was late" = I am the order's ONLY late one.
    "q38_multi_exists" ->
      """WITH late AS (SELECT l_orderkey, l_suppkey FROM lineitem
        |              WHERE l_returnflag = 'R'),
        |ord_supp AS (SELECT l_orderkey, COUNT(DISTINCT l_suppkey) AS n_supp
        |             FROM lineitem GROUP BY 1),
        |ord_late AS (SELECT l_orderkey, COUNT(DISTINCT l_suppkey) AS n_late
        |             FROM late GROUP BY 1)
        |SELECT l1.l_suppkey, COUNT(*) AS numwait
        |FROM late l1
        |JOIN ord_supp os ON os.l_orderkey = l1.l_orderkey
        |JOIN ord_late ol ON ol.l_orderkey = l1.l_orderkey
        |WHERE os.n_supp > 1 AND ol.n_late = 1
        |GROUP BY l1.l_suppkey
        |ORDER BY numwait DESC, l1.l_suppkey""".stripMargin,
    "q39_set_ops" ->
      """WITH c96 AS (SELECT DISTINCT o_custkey FROM orders
        |             WHERE year(o_orderdate) = 1996),
        |c97 AS (SELECT DISTINCT o_custkey FROM orders
        |        WHERE year(o_orderdate) = 1997)
        |SELECT o_custkey, 'both' AS set_op
        |FROM (SELECT o_custkey FROM c96 INTERSECT SELECT o_custkey FROM c97) t1
        |UNION ALL
        |SELECT o_custkey, 'only_1996' AS set_op
        |FROM (SELECT o_custkey FROM c96 EXCEPT SELECT o_custkey FROM c97) t2
        |ORDER BY set_op, o_custkey""".stripMargin,
    "q40_set_ops_all" ->
      """WITH r96 AS (SELECT o_custkey, o_orderpriority FROM orders
        |             WHERE year(o_orderdate) = 1996),
        |r97 AS (SELECT o_custkey, o_orderpriority FROM orders
        |        WHERE year(o_orderdate) = 1997)
        |SELECT o_orderpriority, COUNT(*) AS n, 'intersect_all' AS set_op
        |FROM (SELECT * FROM r96 INTERSECT ALL SELECT * FROM r97) t1
        |GROUP BY o_orderpriority
        |UNION ALL
        |SELECT o_orderpriority, COUNT(*) AS n, 'except_all' AS set_op
        |FROM (SELECT * FROM r96 EXCEPT ALL SELECT * FROM r97) t2
        |GROUP BY o_orderpriority
        |ORDER BY set_op, o_orderpriority""".stripMargin,
    "q41_funnel" ->
      """WITH e AS (SELECT user_id,
        |    CAST(FLOOR(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS es,
        |    event_type FROM events),
        |a AS (SELECT user_id, MIN(es) AS t_view FROM e
        |      WHERE event_type = 'view' GROUP BY user_id),
        |b AS (SELECT e.user_id, MIN(es) AS t_click FROM e JOIN a USING (user_id)
        |      WHERE event_type = 'click' AND es > t_view
        |        AND es <= t_view + 86400 GROUP BY e.user_id),
        |c AS (SELECT e.user_id, MIN(es) AS t_purchase FROM e JOIN b USING (user_id)
        |      WHERE event_type = 'purchase' AND es > t_click
        |        AND es <= t_click + 86400 GROUP BY e.user_id)
        |SELECT a.user_id, t_view, t_click, t_purchase,
        |  1 + CASE WHEN t_click IS NOT NULL THEN 1 ELSE 0 END
        |    + CASE WHEN t_purchase IS NOT NULL THEN 1 ELSE 0 END AS depth
        |FROM a LEFT JOIN b USING (user_id) LEFT JOIN c USING (user_id)
        |ORDER BY a.user_id""".stripMargin,
    // q44: the mergeable-aggregate top-k must equal the window form
    "q44_group_topk_agg" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, CAST(rn AS INT) AS rn
        |FROM (SELECT o_custkey, o_orderkey, o_totalprice,
        |        ROW_NUMBER() OVER (PARTITION BY o_custkey
        |          ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |      FROM orders) t
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,
    // q49: q24's session CTEs + hour-grid unnest
    "q49_hour_concurrency" ->
      """WITH e AS (
        |  SELECT user_id, event_id,
        |    CAST(FLOOR(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS es
        |  FROM events),
        |flagged AS (
        |  SELECT user_id, event_id, es,
        |    CASE WHEN LAG(es) OVER w IS NULL OR es - LAG(es) OVER w > 1800
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY es, event_id)),
        |sess AS (
        |  SELECT user_id, es,
        |    CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY es, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS session_id
        |  FROM flagged),
        |sp AS (SELECT user_id, MIN(es) AS start_s, MAX(es) AS end_s
        |  FROM sess GROUP BY user_id, session_id),
        |hrs AS (SELECT user_id,
        |    unnest(generate_series(start_s // 3600, end_s // 3600)) AS h
        |  FROM sp)
        |SELECT h * 3600 AS hour_s, COUNT(*) AS n_sessions,
        |  COUNT(DISTINCT user_id) AS n_users
        |FROM hrs GROUP BY h ORDER BY hour_s""".stripMargin,
    // q48: replayed via the first-occurrence-flag decomposition
    // (cumulative distinct ≡ cumsum of per-(key,value) first flags)
    "q48_window_count_distinct" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |    CAST(FLOOR(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS es
        |  FROM events),
        |f AS (SELECT user_id, es, event_id,
        |    CASE WHEN ROW_NUMBER() OVER (PARTITION BY user_id, event_type
        |        ORDER BY es, event_id) = 1 THEN 1 ELSE 0 END AS fst
        |  FROM e)
        |SELECT user_id, es, event_id,
        |  CAST(SUM(fst) OVER (PARTITION BY user_id ORDER BY es, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INT)
        |    AS n_distinct_types
        |FROM f ORDER BY user_id, es, event_id""".stripMargin,
    // q47: same collapse + interval windows replayed
    "q47_scd2" ->
      """WITH feed AS (SELECT o_custkey AS k,
        |    CAST(FLOOR(epoch(CAST(o_orderdate AS TIMESTAMP))) AS BIGINT) AS ts,
        |    o_orderkey AS oid, o_orderpriority AS attr FROM orders),
        |ch AS (SELECT k, ts, oid, attr FROM (
        |    SELECT k, ts, oid, attr,
        |      LAG(attr) OVER (PARTITION BY k ORDER BY ts, oid) AS prev
        |    FROM feed) t
        |  WHERE prev IS NULL OR attr <> prev)
        |SELECT k, ts AS valid_from, oid, attr,
        |  LEAD(ts) OVER w AS valid_to,
        |  LEAD(ts) OVER w IS NULL AS is_current
        |FROM ch WINDOW w AS (PARTITION BY k ORDER BY ts, oid)
        |ORDER BY k, valid_from, oid""".stripMargin,
    // q46: same resample/ffill replayed with generate_series + IGNORE
    // NULLS; values are copied (never summed) so plain doubles are exact
    "q46_resample_ffill" ->
      """WITH e AS (SELECT user_id, event_id, value,
        |    CAST(FLOOR(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) // 86400 AS ds,
        |    CAST(FLOOR(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS es
        |  FROM events WHERE event_type = 'purchase'),
        |lastv AS (SELECT user_id, ds, value AS v_obs FROM (
        |    SELECT user_id, ds, value,
        |      ROW_NUMBER() OVER (PARTITION BY user_id, ds
        |        ORDER BY es DESC, event_id DESC) AS rn
        |    FROM e) t WHERE rn = 1),
        |grid AS (SELECT user_id, unnest(generate_series(d0, d1)) AS ds
        |  FROM (SELECT user_id, MIN(ds) AS d0, MAX(ds) AS d1
        |        FROM e GROUP BY user_id) s),
        |j AS (SELECT g.user_id, g.ds, l.v_obs
        |  FROM grid g LEFT JOIN lastv l ON g.user_id = l.user_id AND g.ds = l.ds)
        |SELECT user_id, ds,
        |  LAST_VALUE(v_obs IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ds
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value,
        |  v_obs IS NOT NULL AS observed
        |FROM j ORDER BY user_id, ds""".stripMargin,
    // q45: MERGE semantics replayed set-wise; price math is plain double
    // arithmetic on identical parquet values in both engines
    "q45_merge_upsert" ->
      """WITH snap AS (SELECT o_orderkey AS k, o_totalprice AS price,
        |    o_orderpriority AS priority FROM orders),
        |ups AS (SELECT o_orderkey AS k, o_totalprice + 1.0 AS b_price,
        |    o_orderpriority AS b_priority FROM orders WHERE o_orderkey % 101 = 1),
        |dels AS (SELECT o_orderkey AS k FROM orders WHERE o_orderkey % 101 = 2),
        |ins AS (SELECT o_orderkey + 20000000 AS k, o_totalprice AS b_price,
        |    '5-LOW' AS b_priority FROM orders WHERE o_orderkey % 101 = 3)
        |SELECT s.k, COALESCE(u.b_price, s.price) AS price,
        |  COALESCE(u.b_priority, s.priority) AS priority,
        |  CASE WHEN u.k IS NOT NULL THEN 'U' ELSE 'K' END AS action
        |FROM snap s LEFT JOIN ups u ON s.k = u.k
        |WHERE s.k NOT IN (SELECT k FROM dels)
        |UNION ALL
        |SELECT i.k, i.b_price AS price, i.b_priority AS priority,
        |  'I' AS action
        |FROM ins i WHERE i.k NOT IN (SELECT k FROM snap)
        |ORDER BY k""".stripMargin,
    // q43: digests are compared Spark-to-Spark inside the join, so the
    // oracle is the planted construction itself — the semantic truth,
    // immune to cross-engine double-rendering differences
    "q43_snapshot_diff" ->
      """SELECT o_orderkey AS k, 'removed' AS change FROM orders
        |WHERE o_orderkey % 97 = 0
        |UNION ALL
        |SELECT o_orderkey AS k, 'changed' AS change FROM orders
        |WHERE o_orderkey % 97 = 1
        |UNION ALL
        |SELECT o_orderkey + 10000000 AS k, 'added' AS change FROM orders
        |WHERE o_orderkey % 97 = 2
        |ORDER BY k""".stripMargin,
    "q42_cohort_retention" ->
      """WITH su AS (SELECT user_id,
        |    MIN(date_trunc('week', CAST(ts AS TIMESTAMP))) AS w0
        |  FROM events WHERE event_type = 'signup' GROUP BY user_id),
        |act AS (SELECT DISTINCT user_id,
        |    date_trunc('week', CAST(ts AS TIMESTAMP)) AS w FROM events)
        |SELECT CAST((epoch(w) - epoch(w0)) / 604800 AS INT) AS week_offset,
        |  COUNT(DISTINCT user_id) AS n_users
        |FROM act JOIN su USING (user_id)
        |WHERE epoch(w) >= epoch(w0)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // the bloom prune is invisible to semantics — the oracle is the
    // plain semi-join
    "q36_bloom_semijoin" ->
      s"""SELECT l_returnflag, COUNT(*) AS n_items,
         |  ${dsumSql("l_extendedprice")} AS sum_price
         |FROM lineitem
         |WHERE l_orderkey IN (SELECT o_orderkey FROM orders
         |                     WHERE o_orderpriority = '1-URGENT')
         |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q3_join_agg" ->
      s"""SELECT l_orderkey, o_orderdate, CAST(SUM($rev) AS DOUBLE) AS rev
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1998-03-15'
         |  AND l_shipdate > TIMESTAMP '1998-03-15'
         |GROUP BY l_orderkey, o_orderdate
         |ORDER BY rev DESC, l_orderkey ASC LIMIT 10""".stripMargin,
    "q4_semijoin" ->
      """SELECT o_orderpriority, COUNT(*) AS order_count FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_quantity > 45)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q5_multi_join" ->
      s"""SELECT n_name, CAST(SUM($rev) AS DOUBLE) AS rev
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
         |JOIN nation ON c_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |WHERE r_name = 'ASIA' AND o_orderdate >= TIMESTAMP '1996-01-01'
         |  AND o_orderdate < TIMESTAMP '1998-01-01'
         |GROUP BY n_name ORDER BY rev DESC, n_name ASC""".stripMargin,
    "q6_scan_agg" ->
      """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) AS rev
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin,
    "q7_window_rank" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        |  FROM orders) WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,
    "q8_running_sum" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q9_distinct" ->
      """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_parts,
        |  COUNT(DISTINCT l_suppkey) AS n_supps, COUNT(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q10_having" ->
      """SELECT o_custkey, COUNT(*) AS n_orders FROM orders
        |GROUP BY o_custkey HAVING COUNT(*) >= 3 ORDER BY o_custkey""".stripMargin,
    "q11_antijoin" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin,
    "q12_union" ->
      """SELECT o_orderpriority, bucket, COUNT(*) AS n FROM (
        |  SELECT o_orderpriority, 'high' AS bucket FROM orders WHERE o_totalprice > 200000
        |  UNION ALL
        |  SELECT o_orderpriority, 'urgent' AS bucket FROM orders WHERE o_orderpriority = '1-URGENT')
        |GROUP BY o_orderpriority, bucket ORDER BY o_orderpriority, bucket""".stripMargin,
    "q13_outerjoin_agg" ->
      """SELECT c_count, COUNT(*) AS custdist FROM (
        |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
        |  FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
        |  GROUP BY c_custkey)
        |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin,
    "q14_case_agg" ->
      s"""SELECT 100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO' THEN $rev
         |    ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
         |  / CAST(SUM($rev) AS DOUBLE) AS promo_revenue
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-04-01'""".stripMargin,
    "q15_scalar_subq" ->
      """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / 7.0 AS avg_yearly
        |FROM lineitem JOIN (
        |  SELECT l_partkey AS ap_partkey,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_qty
        |  FROM lineitem GROUP BY l_partkey) ON l_partkey = ap_partkey
        |WHERE l_quantity < 0.5 * avg_qty""".stripMargin,
    "q16_groupagg_topk" ->
      """SELECT l_orderkey, o_custkey, total_qty, rk FROM (
        |  SELECT l_orderkey,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS total_qty,
        |    ROW_NUMBER() OVER (ORDER BY CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) DESC, l_orderkey ASC) AS rk
        |  FROM lineitem GROUP BY l_orderkey)
        |JOIN orders ON l_orderkey = o_orderkey
        |WHERE rk <= 20 ORDER BY rk""".stripMargin,
    "q17_or_pred" ->
      s"""SELECT CAST(SUM($rev) AS DOUBLE) AS rev, COUNT(*) AS n
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |WHERE (p_brand = 'Brand#11' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
         |   OR (p_brand = 'Brand#14' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
         |   OR (p_brand = 'Brand#17' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30)""".stripMargin,
    "q18_in_subq" ->
      """SELECT p_partkey, p_name, p_brand FROM part
        |WHERE p_partkey IN (SELECT l_partkey FROM lineitem WHERE l_quantity >= 49)
        |ORDER BY p_partkey""".stripMargin,
    "q19_rollup" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty, COUNT(*) AS n
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,
    "q20_cube" ->
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin,
    "q21_pivot" ->
      """SELECT l_returnflag,
        |  COUNT(CASE WHEN l_linestatus = 'F' THEN 1 END) AS f_cnt,
        |  COUNT(CASE WHEN l_linestatus = 'O' THEN 1 END) AS o_cnt
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q22_sort_limit" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
        |ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC
        |LIMIT 50""".stripMargin,
    "q23_events_bucket" ->
      """SELECT CAST(FLOOR(epoch(date_trunc('hour', CAST(ts AS TIMESTAMP)))) AS BIGINT) AS hour_s,
        |  event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY hour_s, event_type""".stripMargin,
    "q24_sessionize" ->
      """WITH e AS (
        |  SELECT user_id, event_id,
        |    CAST(FLOOR(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS es
        |  FROM events),
        |flagged AS (
        |  SELECT user_id, event_id, es,
        |    CASE WHEN LAG(es) OVER w IS NULL OR es - LAG(es) OVER w > 1800
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY es, event_id)),
        |sess AS (
        |  SELECT user_id, es,
        |    CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY es, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM flagged)
        |SELECT user_id, session_id, COUNT(*) AS n_events, MIN(es) AS start_s,
        |  MAX(es) - MIN(es) AS dur_s
        |FROM sess GROUP BY user_id, session_id ORDER BY user_id, session_id""".stripMargin,
    "q25_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,
    "q26_full_outer" ->
      """SELECT COALESCE(c.nationkey, s.nationkey) AS nationkey,
        |  COALESCE(n_cust, 0) AS n_cust, COALESCE(n_supp, 0) AS n_supp
        |FROM (SELECT c_nationkey AS nationkey, COUNT(*) AS n_cust
        |      FROM customer GROUP BY 1) c
        |FULL OUTER JOIN (SELECT s_nationkey AS nationkey, COUNT(*) AS n_supp
        |      FROM supplier GROUP BY 1) s
        |ON c.nationkey = s.nationkey ORDER BY nationkey""".stripMargin,
  )
}
