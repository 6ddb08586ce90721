package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Per-key series partials that a batch query and its streaming fold
  * share, so both build the same expression tree by construction:
  * lag-pair Pearson sums (t65 / S35), rolling quantiles (t68 / S37),
  * OHLC bars (t53 / S19) and event transitions (q67 / S22). Each fold
  * keeps only its merge step and its state.
  *
  * Lagged-series Pearson kernel: exact-integer forms
  * NUM = nΣxy−ΣxΣy, DX = nΣx²−(Σx)², DY = nΣy²−(Σy)² over
  * DECIMAL(38,0) sums of aligned (x_t, x_{t−k}) pairs, and the pinned
  * IEEE terminal NUM_d / (√DX_d · √DY_d) (sqrt and multiply are
  * correctly rounded; decimal→double casts are Spark BigDecimal
  * narrowing — the DuckDB oracle routes the same casts through
  * VARCHAR, the t61 HUGEINT→DOUBLE finding). Null below 2 pairs or at
  * EXACT integer zero variance (the t49 ulp lesson — matches pandas
  * NaN on constant series). */
object SeriesStats {
  private val d38 = DecimalType(38, 0)

  /** Per-user daily totals (user_id, day, x) of events in exact
    * integer cents. */
  def dailyCents(events: DataFrame): DataFrame = events
    .select(col("user_id"), to_date(col("ts")).as("day"),
      Moments.cents(col("value")).as("c"))
    .groupBy("user_id", "day").agg(sum(col("c")).as("x"))

  /** Adds y1 and y7, the lag-1 and lag-7 partners of each daily x —
    * positional over the observed days (pandas `shift`: calendar gaps
    * do not re-align). One user-key Exchange+Sort serves both. */
  def withDayLags(daily: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("day")
    daily.withColumn("y1", lag("x", 1).over(w))
      .withColumn("y7", lag("x", 7).over(w))
  }

  /** Per-user lag-pair sums (user_id, n_days, n1, sx1, sy1, sxy1, sxx1,
    * syy1, and the same for lag 7) of [[withDayLags]] rows: the count
    * and the five DECIMAL(38,0) Pearson sums over the aligned pairs.
    * Every column adds across disjoint row sets, so the table folds
    * (S35). A user with no pair at a lag has null sums there, which
    * [[pearson]] reads as null (n < 2) and addition skips. */
  def lagPairSums(lagged: DataFrame): DataFrame = {
    def sums(y: Column, p: String) = Seq(
      count(y).as(s"n$p"),
      sum(when(y.isNotNull, col("x")).cast(d38)).as(s"sx$p"),
      sum(y.cast(d38)).as(s"sy$p"),
      sum(col("x").cast(d38) * y.cast(d38)).as(s"sxy$p"),
      sum(when(y.isNotNull, col("x").cast(d38) * col("x").cast(d38)))
        .as(s"sxx$p"),
      sum(y.cast(d38) * y.cast(d38)).as(s"syy$p"))
    val aggs = Seq(count(lit(1)).as("n_days")) ++
      sums(col("y1"), "1") ++ sums(col("y7"), "7")
    lagged.groupBy("user_id").agg(aggs.head, aggs.tail: _*)
  }

  /** The autocorrelation read of [[lagPairSums]]: (user_id, n_days,
    * n_lag1, autocorr_1, n_lag7, autocorr_7). */
  def autocorr(sums: DataFrame): DataFrame = {
    def corr(p: String): Column = pearson(col(s"n$p"), col(s"sx$p"),
      col(s"sy$p"), col(s"sxy$p"), col(s"sxx$p"), col(s"syy$p"))
    sums.select(col("user_id"), col("n_days"),
      col("n1").as("n_lag1"), corr("1").as("autocorr_1"),
      col("n7").as("n_lag7"), corr("7").as("autocorr_7"))
  }

  /** Pearson r from exact pair-aligned sums (n plain integer column,
    * the five sums DECIMAL(38,0)). */
  def pearson(n: Column, sx: Column, sy: Column, sxy: Column,
      sxx: Column, syy: Column): Column = {
    val nD = n.cast(d38)
    val num = nD * sxy - sx * sy
    val dx = nD * sxx - sx * sx
    val dy = nD * syy - sy * sy
    when(n >= 2 && dx > 0 && dy > 0,
      num.cast(DoubleType) /
        (sqrt(dx.cast(DoubleType)) * sqrt(dy.cast(DoubleType))))
  }

  /** pandas `rolling(4).quantile(q)` for q ∈ {0.25, 0.5, 0.75} over
    * (user_id, es, event_id, value) rows: the lag-1..3 values of each
    * row in (es, event_id) order per user (one user-key Exchange+Sort)
    * and the [[rollingQuantiles]] blends, appended to every input
    * column as roll_q25, roll_q50, roll_q75. */
  def withRollingQuantiles(rows: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("es", "event_id")
    val (q25, q50, q75) = rollingQuantiles(
      col("value"), col("l1"), col("l2"), col("l3"))
    rows.withColumn("l1", lag("value", 1).over(w))
      .withColumn("l2", lag("value", 2).over(w))
      .withColumn("l3", lag("value", 3).over(w))
      .select(rows.columns.toSeq.map(col) ++ Seq(q25.as("roll_q25"),
        q50.as("roll_q50"), q75.as("roll_q75")): _*)
  }

  /** The rolling(4).quantile kernel: 4-element ORDER
    * STATISTICS from the 5-comparator min/max selection network (no
    * sort, no arithmetic — each x_i is bit-for-bit one of the
    * inputs), then pandas' interpolation='linear' blends at q ∈
    * {0.25, 0.5, 0.75}: idx = q·(n−1), x_⌊idx⌋ + frac·(x_⌊idx⌋₊₁ −
    * x_⌊idx⌋) — ONE pinned IEEE multiply-add per quantile. Warm-up
    * (any null lag — fewer than 4 observations) yields null, pandas
    * NaN. Returns (q25, q50, q75). */
  private def rollingQuantiles(v: Column, l1: Column, l2: Column,
      l3: Column): (Column, Column, Column) = {
    val a = least(v, l1)
    val b = greatest(v, l1)
    val c = least(l2, l3)
    val d = greatest(l2, l3)
    val x0 = least(a, c)
    val x3 = greatest(b, d)
    val m1 = greatest(a, c)
    val m2 = least(b, d)
    val x1 = least(m1, m2)
    val x2 = greatest(m1, m2)
    val warm = l1.isNull || l2.isNull || l3.isNull
    def q(lo: Column, hi: Column, frac: Double): Column =
      when(warm, lit(null)).otherwise(lo + lit(frac) * (hi - lo))
    (q(x0, x1, 0.75), q(x1, x2, 0.5), q(x2, x3, 0.25))
  }

  /** OHLC bar partials per (user_id, day_s) of (user_id, day_s, us,
    * event_id, value) ticks: open and close are the min / max structs
    * on the total (us, event_id) order, high/low are max/min, volume is
    * the exact DECIMAL(38,2) sum and n_ticks the count — every field
    * merges exactly (min, max, add), so a bar folds across batches
    * (S19) and reads the same as one pass over every tick (t53). One
    * groupBy shuffle with map-side partials, no window. */
  def ohlcPartials(ticks: DataFrame): DataFrame = ticks
    .groupBy("user_id", "day_s")
    .agg(
      min(struct(col("us"), col("event_id"), col("value"))).as("o"),
      max(struct(col("us"), col("event_id"), col("value"))).as("c"),
      max(col("value")).as("high"), min(col("value")).as("low"),
      sum(graft.Tables.dec(col("value"))).cast(DecimalType(38, 2)).as("vol"),
      count(lit(1)).as("n_ticks"))

  /** The bar read of [[ohlcPartials]]: (user_id, day_s, open, high,
    * low, close, volume, n_ticks), volume surfaced as double. */
  def ohlcBars(partials: DataFrame): DataFrame = partials.select(
    col("user_id"), col("day_s"), col("o.value").as("open"), col("high"),
    col("low"), col("c.value").as("close"),
    col("vol").cast(DoubleType).as("volume"), col("n_ticks"))

  /** Adds prev_type, the event_type before each event of its user in
    * (`timeCol`, event_id) order: one lag window on the user key. */
  def withPrevType(events: DataFrame, timeCol: String): DataFrame =
    events.withColumn("prev_type", lag("event_type", 1).over(
      Window.partitionBy("user_id").orderBy(timeCol, "event_id")))

  /** First-order transition counts (prev_type, cur_type, n) of
    * [[withPrevType]] rows; a user's first event has no predecessor
    * and counts nowhere. The table is event-type² sized and its
    * counts add, so it folds across batches (S22). */
  def transitionCounts(withPrev: DataFrame): DataFrame = withPrev
    .filter(col("prev_type").isNotNull)
    .groupBy(col("prev_type"), col("event_type").as("cur_type"))
    .agg(count(lit(1)).as("n"))

  /** Transition probabilities of a count table: (prev_type, cur_type,
    * n, p) with p = n / the prev_type row total — one IEEE division,
    * on the type²-sized table (a prev-keyed window, no join). */
  def transitionProbs(counts: DataFrame): DataFrame = counts
    .withColumn("tot", sum("n").over(Window.partitionBy("prev_type")))
    .select(col("prev_type"), col("cur_type"), col("n"),
      (col("n").cast(DoubleType) / col("tot").cast(DoubleType)).as("p"))

  /** Per-user gap sessions through Spark's native `session_window`:
    * (user_id, start_s, end_s, n_events, total_value), the value total
    * an exact decimal sum surfaced as double. q51's body, and S18's
    * under a watermark. */
  def sessionTotals(events: DataFrame, gap: String): DataFrame = events
    .groupBy(col("user_id"), session_window(col("ts"), gap).as("sw"))
    .agg(count(lit(1)).as("n_events"),
      graft.Tables.dsum(graft.Tables.dec(col("value"))).as("total_value"))
    .select(col("user_id"), unix_timestamp(col("sw.start")).as("start_s"),
      unix_timestamp(col("sw.end")).as("end_s"), col("n_events"),
      col("total_value"))
}
