package graft.oracle

import graft.functions.{Casts, Rounding, TimeFns}
import graft.oracle.Fragments._
import graft.typesystem.TypeQueries.{tdForms, zForms}

/** DuckDB replays of the type-system registry
  * ([[graft.typesystem.TypeQueries.queries]]), served by
  * [[graft.SparkEntry.oracleSql]]. */
object TypeOracle {

  /** DuckDB formula mirroring Rounding.roundFloat(x, rule, d). */
  private def roundSql(x: String, rule: String, d: Int): String = {
    val s = math.pow(10, d)
    val y = s"($x * $s)"
    val f = s"FLOOR($y)"
    val scaled = rule match {
      case "floor" => f
      case "ceiling" => s"CEIL($y)"
      case "down" => s"SIGN($y) * FLOOR(ABS($y))"
      case "up" => s"SIGN($y) * CEIL(ABS($y))"
      case "half_floor" => s"CEIL($y - 0.5)"
      case "half_ceiling" => s"FLOOR($y + 0.5)"
      case "half_down" => s"SIGN($y) * CEIL(ABS($y) - 0.5)"
      case "half_up" => s"SIGN($y) * FLOOR(ABS($y) + 0.5)"
      case "half_even" =>
        s"""CASE WHEN $y - $f > 0.5 THEN $f + 1
           | WHEN $y - $f < 0.5 THEN $f
           | WHEN $f - 2*FLOOR($f/2) = 0 THEN $f ELSE $f + 1 END""".stripMargin
    }
    s"(($scaled) / $s)"
  }

  /** DuckDB formula body mirroring Rounding.roundDiv(a, b, rule)
    * (expects qf/qc/mag/a/b in scope). */
  private def divBodySql(rule: String): String = {
    val neg = "(SIGN(a)*SIGN(b) < 0)"
    rule match {
      case "floor" => "qf"
      case "ceiling" => "qc"
      case "down" => s"CASE WHEN $neg THEN qc ELSE qf END"
      case "up" => s"CASE WHEN $neg THEN qf ELSE qc END"
      case "half_floor" => "CASE WHEN mag*2 > ABS(b) THEN qc ELSE qf END"
      case "half_ceiling" => "CASE WHEN mag*2 >= ABS(b) THEN qc ELSE qf END"
      case "half_down" => s"CASE WHEN mag*2 > ABS(b) OR (mag*2 = ABS(b) AND $neg) THEN qc ELSE qf END"
      case "half_up" => s"CASE WHEN mag*2 > ABS(b) OR (mag*2 = ABS(b) AND NOT $neg) THEN qc ELSE qf END"
      case "half_even" =>
        """CASE WHEN mag*2 > ABS(b) THEN qc WHEN mag*2 < ABS(b) THEN qf
          | WHEN ((qf % 2) + 2) % 2 = 0 THEN qf ELSE qc END""".stripMargin
    }
  }

  private def divSql(rule: String): String =
    s"CAST(${divBodySql(rule)} AS BIGINT) AS q_$rule"

  /** The FROM clause [[divBodySql]] reads: integer dividend `a` and
    * divisor `b` over lineitem's first 100 orders, with the floored
    * remainder `m`, its magnitude `mag` and the floor/ceiling quotients
    * `qf`/`qc`. */
  private def divFromSql(a: String, b: String): String =
    s"""FROM (SELECT *, ABS(m) AS mag,
       |    CAST((a - m) / b AS BIGINT) AS qf,
       |    CAST((a - m) / b AS BIGINT) + (CASE WHEN m = 0 THEN 0 ELSE 1 END) AS qc
       |  FROM (SELECT l_orderkey, l_linenumber, a, b, ((a % b) + b) % b AS m
       |    FROM (SELECT l_orderkey, l_linenumber,
       |      $a AS a,
       |      $b AS b
       |      FROM lineitem WHERE l_orderkey <= 100)))""".stripMargin

  private val floatReSql = "^[+-]?([0-9]+\\.?[0-9]*|\\.[0-9]+)([eE][+-]?[0-9]+)?$"

  // ---- t22 oracle generators: built from the SAME regex constants the
  // Spark kernels use (TimeFns.clockRe/secRe/abbrevRe, Casts.complex*Re)
  // so engine and oracle can only diverge on evaluation, not pattern.
  private def sqlList(xs: Seq[String]): String =
    xs.map(x => s"'$x'").mkString("[", ", ", "]")
  private def tdPart(re: String, g: Int): String =
    s"COALESCE(TRY_CAST(NULLIF(regexp_extract(td_n, '$re', $g), '') AS DOUBLE), 0)"
  private def tdUs(re: String, g: Int, unit: Double): String =
    s"CAST(FLOOR(${tdPart(re, g)} * $unit + 0.5) AS BIGINT)"
  private def tdSign(re: String): String =
    s"(CASE WHEN regexp_extract(td_n, '$re', 1) = '-' THEN -1 ELSE 1 END)"
  private def t22OracleSql: String = {
    import TimeFns.{clockRe, secRe, abbrevRe}
    import graft.expressions.TimedeltaKernel.{wUs, dUs, hUs, mUs, sUs}
    val norm = TimeFns.tdReplacements.foldLeft(
      "regexp_replace(lower(trim(td_s)), '\\s+', '', 'g')") {
      case (acc, (p, r)) => s"regexp_replace($acc, '$p', '$r', 'g')"
    }
    val clockVal = s"${tdSign(clockRe)} * (${tdUs(clockRe, 2, wUs)} + ${tdUs(clockRe, 3, dUs)} + " +
      s"CASE WHEN regexp_extract(td_n, '$clockRe', 6) != '' " +
      s"THEN ${tdUs(clockRe, 4, hUs)} + ${tdUs(clockRe, 5, mUs)} + ${tdUs(clockRe, 6, sUs)} " +
      s"ELSE ${tdUs(clockRe, 4, mUs)} + ${tdUs(clockRe, 5, sUs)} END)"
    val secVal = s"${tdSign(secRe)} * ${tdUs(secRe, 2, sUs)}"
    val abbrevVal = s"${tdSign(abbrevRe)} * (${tdUs(abbrevRe, 2, wUs)} + ${tdUs(abbrevRe, 3, dUs)} + " +
      s"${tdUs(abbrevRe, 4, hUs)} + ${tdUs(abbrevRe, 5, mUs)} + ${tdUs(abbrevRe, 6, sUs)} + " +
      s"${tdUs(abbrevRe, 7, 1000.0)} + ${tdUs(abbrevRe, 8, 1.0)})"
    val bothRe = Casts.complexBothRe
    val imRe = Casts.complexImRe
    val reRe = Casts.complexReRe
    val imCoeff = s"regexp_extract(z_t, '$imRe', 1)"
    s"""WITH f AS (
       |  SELECT o_orderkey,
       |    (${sqlList(tdForms)})[CAST(o_orderkey % ${tdForms.size} AS INT) + 1] AS td_s,
       |    (${sqlList(zForms)})[CAST(o_orderkey % ${zForms.size} AS INT) + 1] AS z_s
       |  FROM orders WHERE o_orderkey <= 500),
       |n AS (SELECT *, $norm AS td_n, trim(z_s) AS z_t FROM f)
       |SELECT o_orderkey, td_s, z_s,
       |  CASE WHEN regexp_matches(td_n, '$clockRe') THEN $clockVal
       |       WHEN regexp_matches(td_n, '$secRe') THEN $secVal
       |       WHEN regexp_matches(td_n, '$abbrevRe') AND regexp_matches(td_n, '\\d') THEN $abbrevVal
       |       ELSE NULL END AS td_us,
       |  CASE WHEN regexp_matches(z_t, '$bothRe') THEN TRY_CAST(regexp_extract(z_t, '$bothRe', 1) AS DOUBLE)
       |       WHEN regexp_matches(z_t, '$imRe') THEN 0.0
       |       WHEN regexp_matches(z_t, '$reRe') THEN TRY_CAST(regexp_extract(z_t, '$reRe', 1) AS DOUBLE)
       |       ELSE NULL END AS z_re,
       |  CASE WHEN regexp_matches(z_t, '$bothRe') THEN TRY_CAST(regexp_extract(z_t, '$bothRe', 2) AS DOUBLE)
       |       WHEN regexp_matches(z_t, '$imRe') THEN
       |         (CASE WHEN $imCoeff IN ('', '+') THEN 1.0
       |               WHEN $imCoeff = '-' THEN -1.0
       |               ELSE TRY_CAST($imCoeff AS DOUBLE) END)
       |       WHEN regexp_matches(z_t, '$reRe') THEN 0.0
       |       ELSE NULL END AS z_im
       |FROM n ORDER BY o_orderkey""".stripMargin
  }

  val sql: Map[String, String] = Map(
    // t69: identical tagged union + IGNORE NULLS fill windows,
    // identical (es, src, event_id) tie pinning
    "t69_merge_ordered" ->
      s"""WITH ${eventSecCte("event_type, value")},
        |u AS (
        |  SELECT user_id, es, event_id, 0 AS src,
        |    value AS v_view, CAST(NULL AS DOUBLE) AS v_buy
        |  FROM e WHERE event_type = 'view'
        |  UNION ALL
        |  SELECT user_id, es, event_id, 1 AS src,
        |    CAST(NULL AS DOUBLE) AS v_view, value AS v_buy
        |  FROM e WHERE event_type = 'purchase')
        |SELECT user_id, es, event_id, CAST(src AS INT) AS src,
        |  last_value(v_view IGNORE NULLS) OVER (PARTITION BY user_id
        |    ORDER BY es, src, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_view,
        |  last_value(v_buy IGNORE NULLS) OVER (PARTITION BY user_id
        |    ORDER BY es, src, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_buy
        |FROM u ORDER BY user_id, es, src, event_id""".stripMargin,
    // t67: the directly-computed long aggregate — semantic truth for
    // the pivot→unpivot round trip (a broken unstack/stack could not
    // reproduce it); same planted absences, exact integer cents
    "t67_stack_unstack" ->
      """SELECT o_orderpriority AS priority, o_orderstatus AS status,
        |  'q' || CAST(quarter(o_orderdate) AS VARCHAR) AS quarter,
        |  CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
        |    AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM orders
        |WHERE NOT (o_orderstatus = 'P'
        |  AND quarter(o_orderdate) IN (2, 3))
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    // t68: identical lag frame, identical least/greatest selection
    // network, identical pinned multiply-add blends
    "t68_rolling_quantile" ->
      s"""WITH ${eventSecCte("value")},
        |l AS (SELECT user_id, es, event_id, value,
        |    lag(value, 1) OVER (PARTITION BY user_id
        |      ORDER BY es, event_id) AS l1,
        |    lag(value, 2) OVER (PARTITION BY user_id
        |      ORDER BY es, event_id) AS l2,
        |    lag(value, 3) OVER (PARTITION BY user_id
        |      ORDER BY es, event_id) AS l3
        |  FROM e),
        |n AS (SELECT user_id, es, event_id, value,
        |    LEAST(value, l1) AS a, GREATEST(value, l1) AS b,
        |    LEAST(l2, l3) AS c, GREATEST(l2, l3) AS d,
        |    l1 IS NULL OR l2 IS NULL OR l3 IS NULL AS warm
        |  FROM l),
        |x AS (SELECT user_id, es, event_id, value, warm,
        |    LEAST(a, c) AS x0, LEAST(GREATEST(a, c), LEAST(b, d)) AS x1,
        |    GREATEST(GREATEST(a, c), LEAST(b, d)) AS x2,
        |    GREATEST(b, d) AS x3
        |  FROM n)
        |SELECT user_id, es, event_id, value,
        |  CASE WHEN warm THEN NULL ELSE x0 + 0.75 * (x1 - x0) END
        |    AS roll_q25,
        |  CASE WHEN warm THEN NULL ELSE x1 + 0.5 * (x2 - x1) END
        |    AS roll_q50,
        |  CASE WHEN warm THEN NULL ELSE x2 + 0.25 * (x3 - x2) END
        |    AS roll_q75
        |FROM x ORDER BY user_id, es, event_id""".stripMargin,
    // t66: dup-key summaries per side + the same literal mode grid
    "t66_merge_validate" ->
      """WITH co_l AS (SELECT CAST(COALESCE(SUM(CASE WHEN c > 1 THEN 1 END), 0)
        |    AS BIGINT) AS dups
        |  FROM (SELECT c_custkey, COUNT(*) AS c FROM customer GROUP BY 1)),
        |co_r AS (SELECT CAST(COALESCE(SUM(CASE WHEN c > 1 THEN 1 END), 0)
        |    AS BIGINT) AS dups
        |  FROM (SELECT o_custkey, COUNT(*) AS c FROM orders GROUP BY 1)),
        |ol_l AS (SELECT CAST(COALESCE(SUM(CASE WHEN c > 1 THEN 1 END), 0)
        |    AS BIGINT) AS dups
        |  FROM (SELECT o_orderkey, COUNT(*) AS c FROM orders GROUP BY 1)),
        |ol_r AS (SELECT CAST(COALESCE(SUM(CASE WHEN c > 1 THEN 1 END), 0)
        |    AS BIGINT) AS dups
        |  FROM (SELECT l_orderkey, COUNT(*) AS c FROM lineitem GROUP BY 1)),
        |pairs AS (
        |  SELECT 'customer_orders' AS pair, co_l.dups AS ld, co_r.dups AS rd
        |  FROM co_l, co_r
        |  UNION ALL
        |  SELECT 'orders_lineitem', ol_l.dups, ol_r.dups FROM ol_l, ol_r),
        |modes(mode) AS (VALUES ('1:1'), ('1:m'), ('m:1'), ('m:m'))
        |SELECT pair, mode,
        |  CASE mode WHEN '1:1' THEN ld = 0 AND rd = 0
        |            WHEN '1:m' THEN ld = 0
        |            WHEN 'm:1' THEN rd = 0
        |            ELSE TRUE END AS is_valid,
        |  ld AS n_dup_left_keys, rd AS n_dup_right_keys
        |FROM pairs CROSS JOIN modes
        |ORDER BY pair, mode""".stripMargin,
    // t65: identical HUGEINT Pearson kernels over the lagged daily
    // series; decimal→double through VARCHAR (the t61 device), same
    // exact-zero variance guards
    "t65_autocorr" ->
      """WITH daily AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day,
        |    CAST(SUM(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT))
        |      AS HUGEINT) AS x
        |  FROM events GROUP BY 1, 2),
        |l AS (SELECT user_id, x,
        |    LAG(x, 1) OVER win AS y1,
        |    LAG(x, 7) OVER win AS y7
        |  FROM daily WINDOW win AS (PARTITION BY user_id ORDER BY day)),
        |g AS (SELECT user_id, COUNT(*) AS n_days,
        |    COUNT(y1) AS n1, SUM(CASE WHEN y1 IS NOT NULL THEN x END) AS sx1,
        |    SUM(y1) AS sy1, SUM(x * y1) AS sxy1,
        |    SUM(CASE WHEN y1 IS NOT NULL THEN x * x END) AS sxx1,
        |    SUM(y1 * y1) AS syy1,
        |    COUNT(y7) AS n7, SUM(CASE WHEN y7 IS NOT NULL THEN x END) AS sx7,
        |    SUM(y7) AS sy7, SUM(x * y7) AS sxy7,
        |    SUM(CASE WHEN y7 IS NOT NULL THEN x * x END) AS sxx7,
        |    SUM(y7 * y7) AS syy7
        |  FROM l GROUP BY 1),
        |k AS (SELECT user_id, n_days, n1, n7,
        |    CAST(n1 AS HUGEINT) * sxy1 - sx1 * sy1 AS num1,
        |    CAST(n1 AS HUGEINT) * sxx1 - sx1 * sx1 AS dx1,
        |    CAST(n1 AS HUGEINT) * syy1 - sy1 * sy1 AS dy1,
        |    CAST(n7 AS HUGEINT) * sxy7 - sx7 * sy7 AS num7,
        |    CAST(n7 AS HUGEINT) * sxx7 - sx7 * sx7 AS dx7,
        |    CAST(n7 AS HUGEINT) * syy7 - sy7 * sy7 AS dy7
        |  FROM g)
        |SELECT user_id, CAST(n_days AS BIGINT) AS n_days,
        |  CAST(n1 AS BIGINT) AS n_lag1,
        |  CASE WHEN n1 >= 2 AND dx1 > 0 AND dy1 > 0 THEN
        |    CAST(CAST(num1 AS VARCHAR) AS DOUBLE) /
        |      (sqrt(CAST(CAST(dx1 AS VARCHAR) AS DOUBLE))
        |        * sqrt(CAST(CAST(dy1 AS VARCHAR) AS DOUBLE)))
        |  END AS autocorr_1,
        |  CAST(n7 AS BIGINT) AS n_lag7,
        |  CASE WHEN n7 >= 2 AND dx7 > 0 AND dy7 > 0 THEN
        |    CAST(CAST(num7 AS VARCHAR) AS DOUBLE) /
        |      (sqrt(CAST(CAST(dx7 AS VARCHAR) AS DOUBLE))
        |        * sqrt(CAST(CAST(dy7 AS VARCHAR) AS DOUBLE)))
        |  END AS autocorr_7
        |FROM k ORDER BY user_id""".stripMargin,
    // t64: identical ordinal arithmetic — DuckDB date-date is integer
    // days, so dow_mon/thursday replay the exact pmod/(+3-wd) chain;
    // only year()/dayofyear()/last_day()/date+days cross engines
    "t64_dt_accessor" ->
      """WITH b AS (SELECT o_orderkey AS orderkey,
        |    CAST(o_orderdate AS DATE) AS d,
        |    ((CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
        |      + 3) % 7 + 7) % 7 AS dow_mon
        |  FROM orders),
        |c AS (SELECT *, d + CAST(3 - dow_mon AS INTEGER) AS thursday FROM b)
        |SELECT orderkey, d,
        |  CAST(year(d) AS INTEGER) AS y,
        |  CAST(quarter(d) AS INTEGER) AS q,
        |  CAST(month(d) AS INTEGER) AS m,
        |  CAST(day(d) AS INTEGER) AS dom,
        |  CAST(dow_mon AS INTEGER) AS dow_mon,
        |  CAST(dayofyear(d) AS INTEGER) AS doy,
        |  CAST(year(thursday) AS INTEGER) AS iso_year,
        |  CAST((dayofyear(thursday) - 1) // 7 + 1 AS INTEGER) AS iso_week,
        |  CAST(day(last_day(d)) AS INTEGER) AS days_in_month,
        |  (year(d) % 4 = 0 AND year(d) % 100 <> 0) OR year(d) % 400 = 0
        |    AS is_leap_year,
        |  d = last_day(d) AS is_month_end,
        |  d = last_day(d) AND month(d) IN (3, 6, 9, 12) AS is_quarter_end
        |FROM c ORDER BY orderkey""".stripMargin,
    // t63: the SAME lexicographic struct min/max device replayed in
    // DuckDB (struct_pack compares field-by-field exactly like Spark's
    // named_struct ordering) — deterministic by total-order
    // construction on BOTH engines, no reliance on either engine's
    // arg_min/first tie behavior; values pass through untouched
    "t63_groupby_idxmax" ->
      """WITH g AS (SELECT o_custkey,
        |    MAX(struct_pack(v := o_totalprice, nk := -o_orderkey)) AS mx,
        |    MIN(struct_pack(v := o_orderdate, k := o_orderkey)) AS mn,
        |    COUNT(*) AS n
        |  FROM orders GROUP BY 1)
        |SELECT o_custkey AS custkey,
        |  CAST(-(mx.nk) AS BIGINT) AS idxmax_price,
        |  mx.v AS max_price,
        |  CAST(mn.k AS BIGINT) AS idxmin_date,
        |  mn.v AS min_date,
        |  CAST(n AS BIGINT) AS n_orders
        |FROM g ORDER BY custkey""".stripMargin,
    // t60: the same two frames + full-outer + per-column COALESCE;
    // ×2.0 of a double and +10⁶ of a bigint are exact, values only
    // pass through — no float arithmetic crosses the compare boundary
    "t60_combine_first" ->
      """WITH a AS (SELECT o_orderkey AS k,
        |    CASE WHEN o_orderkey % 5 <> 0 THEN o_custkey END AS custkey,
        |    CASE WHEN o_orderkey % 7 <> 0 THEN o_totalprice END AS totalprice,
        |    CASE WHEN o_orderkey % 2 <> 0 THEN o_orderpriority END AS priority
        |  FROM orders WHERE o_orderkey % 3 = 0),
        |b AS (SELECT o_orderkey AS k,
        |    CAST(o_custkey + 1000000 AS BIGINT) AS custkey,
        |    o_totalprice * 2.0 AS totalprice,
        |    'B-' || o_orderpriority AS priority,
        |    o_orderstatus AS status
        |  FROM orders WHERE o_orderkey % 2 = 0)
        |SELECT COALESCE(a.k, b.k) AS k,
        |  COALESCE(a.custkey, b.custkey) AS custkey,
        |  COALESCE(a.totalprice, b.totalprice) AS totalprice,
        |  COALESCE(a.priority, b.priority) AS priority,
        |  b.status AS status
        |FROM a FULL OUTER JOIN b ON a.k = b.k
        |ORDER BY k""".stripMargin,
    // t59: the registered kernels replayed as plain SQL — the exact
    // OVERRIDING cents kernel (proving the override, not the original
    // coarse registration, is what castTo consulted), the clamp
    // callable, and t4's proven half_even device for the builtin leg
    "t59_custom_cast" ->
      s"""SELECT o_orderkey,
         |  CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
         |    AS cents,
         |  CAST(LEAST(o_orderkey % 80, 50) AS BIGINT) AS clamp50,
         |  CAST(${roundSql("o_totalprice", "half_even", 0)} AS INTEGER)
         |    AS dollars_i32
         |FROM orders ORDER BY o_orderkey""".stripMargin,
    // t58: the same closed forms in DuckDB integer arithmetic — the
    // weekday index from the epoch ordinal on both engines, never from
    // each engine's own week-start convention
    "t58_business_days" ->
      """WITH b AS (SELECT o_orderkey, o_orderdate,
        |    date_diff('day', DATE '1970-01-01', o_orderdate) AS u
        |  FROM orders),
        |c AS (SELECT *, (u + 3) % 7 AS wd FROM b),
        |d AS (SELECT o_orderkey, o_orderdate, u, wd,
        |    u - CASE WHEN wd = 5 THEN 1 WHEN wd = 6 THEN 2 ELSE 0 END AS eu,
        |    CASE WHEN wd > 4 THEN 4 ELSE wd END AS ew FROM c)
        |SELECT o_orderkey, o_orderdate, wd,
        |  DATE '1970-01-01' + CAST(eu + 1 + 2 * ((ew + 1) // 5) AS INT)
        |    AS bday1,
        |  DATE '1970-01-01' + CAST(eu + 5 + 2 * ((ew + 5) // 5) AS INT)
        |    AS bday5,
        |  DATE '1970-01-01' + CAST(eu + 20 + 2 * ((ew + 20) // 5) AS INT)
        |    AS bday20,
        |  (5 * ((u + 30) // 7) + ([0,1,2,2,2,3,4])[(u + 30) % 7 + 1])
        |    - (5 * (u // 7) + ([0,1,2,2,2,3,4])[u % 7 + 1]) AS bdays_30d
        |FROM d ORDER BY o_orderkey""".stripMargin,
    // t56: the same Kleene grid in DuckDB's three-valued engine —
    // the hash match is the cross-engine parity certificate
    "t56_kleene_bool" ->
      """WITH g0 AS (SELECT l_returnflag AS flag,
        |    CASE WHEN l_linenumber % 3 = 0 THEN NULL
        |      ELSE l_quantity > 30 END AS a,
        |    CASE WHEN l_partkey % 5 = 0 THEN NULL
        |      ELSE l_discount > CAST(0.05 AS DOUBLE) END AS b
        |  FROM lineitem),
        |g AS (SELECT flag, a, b, a AND b AS andv, a OR b AS orv,
        |    a <> b AS xorv FROM g0)
        |SELECT flag, COUNT(*) AS n,
        |  COUNT(CASE WHEN a IS NULL THEN 1 END) AS a_null,
        |  COUNT(CASE WHEN b IS NULL THEN 1 END) AS b_null,
        |  COUNT(CASE WHEN andv THEN 1 END) AS and_t,
        |  COUNT(CASE WHEN NOT andv THEN 1 END) AS and_f,
        |  COUNT(CASE WHEN andv IS NULL THEN 1 END) AS and_n,
        |  COUNT(CASE WHEN orv THEN 1 END) AS or_t,
        |  COUNT(CASE WHEN NOT orv THEN 1 END) AS or_f,
        |  COUNT(CASE WHEN orv IS NULL THEN 1 END) AS or_n,
        |  COUNT(CASE WHEN xorv THEN 1 END) AS xor_t,
        |  COUNT(CASE WHEN NOT xorv THEN 1 END) AS xor_f,
        |  COUNT(CASE WHEN xorv IS NULL THEN 1 END) AS xor_n,
        |  COALESCE(BOOL_OR(a), false) AS any_skipna,
        |  COALESCE(BOOL_AND(a), true) AS all_skipna,
        |  CASE WHEN COALESCE(BOOL_OR(a), false) THEN 'true'
        |    WHEN COUNT(CASE WHEN a IS NULL THEN 1 END) > 0 THEN 'NA'
        |    ELSE 'false' END AS any_strict,
        |  CASE WHEN NOT COALESCE(BOOL_AND(a), true) THEN 'false'
        |    WHEN COUNT(CASE WHEN a IS NULL THEN 1 END) > 0 THEN 'NA'
        |    ELSE 'true' END AS all_strict
        |FROM g GROUP BY flag ORDER BY flag""".stripMargin,
    // t57: hand-translated WHEREs — independent semantics for the
    // parser's pinned reading; float literals CAST AS DOUBLE
    "t57_query_predicates" -> {
      val wheres = Seq(
        "l_quantity > 45" -> "l_quantity > 45",
        "l_returnflag == 'R' and l_quantity <= 10" ->
          "l_returnflag = 'R' AND l_quantity <= 10",
        "not (l_linestatus == 'O') or l_discount >= 0.08" ->
          "NOT (l_linestatus = 'O') OR l_discount >= CAST(0.08 AS DOUBLE)",
        "l_returnflag in ('A', 'N') and l_tax < 0.03" ->
          "l_returnflag IN ('A', 'N') AND l_tax < CAST(0.03 AS DOUBLE)",
        "l_extendedprice / l_quantity > 1500 and l_quantity * 2 < 20" ->
          "l_extendedprice / l_quantity > 1500 AND l_quantity * 2 < 20",
        "l_tax - l_discount > 0.05 or l_quantity + 5 >= 55" ->
          "l_tax - l_discount > CAST(0.05 AS DOUBLE) OR l_quantity + 5 >= 55",
        // @refs: the oracle inlines the env constants the parser
        // resolved (minqty=45, flag='R', flags=('A','N'))
        "l_quantity >= @minqty and l_returnflag == @flag" ->
          "l_quantity >= 45 AND l_returnflag = 'R'",
        "l_returnflag in @flags and l_quantity < 8" ->
          "l_returnflag IN ('A', 'N') AND l_quantity < 8",
        "l_discount + l_tax > l_quantity / 400" ->
          "l_discount + l_tax > l_quantity / 400",
        "5 <= l_quantity < 10" ->
          "5 <= l_quantity AND l_quantity < 10",
        "l_returnflag not in ('A', 'N') & ~(l_linestatus == 'F')" ->
          "l_returnflag NOT IN ('A', 'N') AND NOT (l_linestatus = 'F')",
        // Python modulo = ((a fmod b) + b) fmod b; '**' = double POWER
        // with the power tower hand-parenthesized to the Python
        // reading (right-assoc, tighter than unary minus)
        "(l_quantity - 30) % 7 == 3" ->
          "fmod(fmod(l_quantity - 30, 7) + 7, 7) = 3",
        // Python floor division on a signed dividend: floor(a / b)
        "(l_quantity - 30) // 7 == -2" ->
          "CAST(FLOOR((l_quantity - 30) / 7) AS BIGINT) = -2",
        "l_discount ** 2 > 0.006 and l_quantity < 25" ->
          "POWER(l_discount, 2) > CAST(0.006 AS DOUBLE) AND l_quantity < 25",
        "2 ** 3 ** 2 == 512 and -2 ** 2 == -4 and l_returnflag == 'R'" ->
          ("POWER(2, POWER(3, 2)) = 512 AND -POWER(2, 2) = -4 " +
            "AND l_returnflag = 'R'"),
        // negative-divisor %: the same fmod composition, b = -7 —
        // DuckDB's fmod is C remainder, so ((a fmod b) + b) fmod b
        // follows Python's divisor-sign result for b < 0 too
        "(l_quantity - 30) % -7 == -4" ->
          "fmod(fmod(l_quantity - 30, -7) + -7, -7) = -4",
        // scientific-notation literals parse as DOUBLE on both engines
        "l_discount > 5e-2" ->
          "l_discount > CAST(5e-2 AS DOUBLE)",
        "l_extendedprice >= 1.5E3 and l_quantity < 3" ->
          "l_extendedprice >= CAST(1.5E3 AS DOUBLE) AND l_quantity < 3",
        // INTEGRAL // and % replayed in exact BIGINT arithmetic.
        // DuckDB's // TRUNCATES (7 // -3 = -2) where Python floors,
        // so the sign-mismatch rows carry the floor correction term;
        // same-sign rows need none (truncate = floor there). 2^53+1
        // operands make a double-domain replay disagree — exactness
        // is the point of these rows.
        "(9007199254740993 + l_linenumber) // 3 >= 3002399751580332" ->
          "(9007199254740993 + l_linenumber) // 3 >= 3002399751580332",
        "(-9007199254740993 - l_linenumber) // 3 == -3002399751580332" ->
          ("((-9007199254740993 - l_linenumber) // 3 - " +
            "(CASE WHEN (-9007199254740993 - l_linenumber) % 3 <> 0 " +
            "THEN 1 ELSE 0 END)) = -3002399751580332"),
        "(l_linenumber - 10) // -3 == 2" ->
          "(l_linenumber - 10) // -3 = 2",
        "l_orderkey % 7 == 3 and l_quantity < 30" ->
          "l_orderkey % 7 = 3 AND l_quantity < 30",
        "(l_linenumber - 10) % -3 == -2" ->
          "(l_linenumber - 10) % -3 = -2")
      val rows = wheres.map { case (p, w) =>
        val lbl = p.replace("'", "''")
        s"""SELECT '$lbl' AS predicate,
           |  CAST(SUM(CASE WHEN $w THEN 1 ELSE 0 END) AS BIGINT) AS n_rows,
           |  COALESCE(CAST(SUM(CASE WHEN $w
           |    THEN CAST(l_quantity AS DECIMAL(12,2)) END) AS DOUBLE), 0.0)
           |    AS qty_total
           |FROM lineitem""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""SELECT * FROM (
         |$rows
         |) ORDER BY predicate""".stripMargin
    },
    // t70: independent replay of the eval program — CTEs for the
    // statement sequencing, fmod composition for Python's %, POWER
    // for ** (exact on the 2^0..2^6 grid); thresholds compare the
    // SAME per-row IEEE doubles, sums are counts or exact decimals
    "t70_eval_program" ->
      s"""WITH e AS (
        |  SELECT l_quantity,
        |    fmod(fmod(l_quantity, 7) + 7, 7) AS bucket,
        |    POWER(2, fmod(fmod(l_quantity, 7) + 7, 7)) AS boost,
        |    l_extendedprice * (1 - l_discount) AS margin
        |  FROM lineitem),
        |e2 AS (SELECT *, margin * boost AS score FROM e)
        |SELECT CAST(bucket AS BIGINT) AS bucket,
        |  COUNT(*) AS n_rows,
        |  CAST(SUM(CASE WHEN score > 200000 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_hi,
        |  ${dsumSql("l_quantity")} AS sum_qty
        |FROM e2 GROUP BY 1 ORDER BY 1""".stripMargin,
    // t55: identical cents-string cells, identical plants, identical
    // null-safe inequality
    "t55_frame_compare" ->
      """WITH o AS (SELECT o_orderkey AS k,
        |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
        |      AS cents,
        |    o_orderpriority AS pri, o_orderstatus AS st FROM orders),
        |old AS (SELECT k, CAST(cents AS VARCHAR) AS price,
        |    pri AS priority, st AS status FROM o),
        |nw AS (SELECT k,
        |    CAST(cents + CASE WHEN k % 11 = 1 THEN 100 ELSE 0 END
        |      AS VARCHAR) AS price,
        |    CASE WHEN k % 13 = 2 THEN pri || '-X' ELSE pri END AS priority,
        |    st AS status FROM o),
        |mo AS (SELECT k, 'price' AS col, price AS self_v FROM old
        |  UNION ALL SELECT k, 'priority', priority FROM old
        |  UNION ALL SELECT k, 'status', status FROM old),
        |mn AS (SELECT k, 'price' AS col, price AS other_v FROM nw
        |  UNION ALL SELECT k, 'priority', priority FROM nw
        |  UNION ALL SELECT k, 'status', status FROM nw)
        |SELECT mo.k, mo.col, mo.self_v, mn.other_v
        |FROM mo JOIN mn ON mo.k = mn.k AND mo.col = mn.col
        |WHERE mo.self_v IS DISTINCT FROM mn.other_v
        |ORDER BY mo.k, mo.col""".stripMargin,
    // t54: every flattened field recomputed arithmetically from the
    // source columns (the parse round-trip proof); pmod spelled as the
    // double-% idiom so negatives agree, floor before the cast so
    // DuckDB's round-on-cast can't diverge from Spark's truncate
    "t54_json_normalize" ->
      """WITH e AS (SELECT event_id, user_id, value FROM events),
        |x AS (SELECT e.*, unnest([0, 1]) AS item_pos FROM e)
        |SELECT event_id, user_id AS uid,
        |  't' || CAST(((user_id % 3) + 3) % 3 AS VARCHAR) AS tier,
        |  CAST(item_pos AS INT) AS item_pos,
        |  event_id + item_pos AS sku,
        |  CASE WHEN item_pos = 0
        |       THEN ((CAST(floor(value) AS BIGINT) % 5) + 5) % 5 + 1
        |       ELSE ((event_id % 7) + 7) % 7 + 1 END AS qty
        |FROM x ORDER BY event_id, item_pos""".stripMargin,
    // t53: open/close pinned by the identical (us, event_id) total order
    // (row_number asc/desc = the min/max struct), volume the shared
    // exact-decimal sum convention
    "t53_resample_ohlc" ->
      s"""WITH e AS (SELECT user_id,
        |    CAST(FLOOR(epoch(date_trunc('day', CAST(ts AS TIMESTAMP)))) AS BIGINT) AS day_s,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id, value FROM events),
        |r AS (SELECT *,
        |    ROW_NUMBER() OVER (PARTITION BY user_id, day_s
        |      ORDER BY us, event_id) AS ra,
        |    ROW_NUMBER() OVER (PARTITION BY user_id, day_s
        |      ORDER BY us DESC, event_id DESC) AS rd
        |  FROM e)
        |SELECT user_id, day_s,
        |  MAX(CASE WHEN ra = 1 THEN value END) AS open,
        |  MAX(value) AS high, MIN(value) AS low,
        |  MAX(CASE WHEN rd = 1 THEN value END) AS close,
        |  ${dsumSql("value")} AS volume,
        |  COUNT(*) AS n_ticks
        |FROM r GROUP BY user_id, day_s ORDER BY user_id, day_s""".stripMargin,
    // t52: identical lag frame + the same pure-selection median
    // network (no arithmetic — output is one of the inputs, bit-exact);
    // warm-up nulls guarded on both engines
    "t52_rolling_median" ->
      s"""WITH ${eventSecCte("value")},
        |l AS (SELECT user_id, es, event_id, value,
        |    LAG(value, 1) OVER (PARTITION BY user_id ORDER BY es, event_id) AS l1,
        |    LAG(value, 2) OVER (PARTITION BY user_id ORDER BY es, event_id) AS l2
        |  FROM e)
        |SELECT user_id, es, event_id, value,
        |  CASE WHEN l1 IS NULL OR l2 IS NULL THEN NULL
        |       ELSE greatest(least(value, l1),
        |            least(greatest(value, l1), l2)) END AS roll_med,
        |  CASE WHEN l1 IS NULL OR l2 IS NULL THEN NULL
        |       ELSE least(value, l1, l2) END AS roll_min,
        |  CASE WHEN l1 IS NULL OR l2 IS NULL THEN NULL
        |       ELSE greatest(value, l1, l2) END AS roll_max
        |FROM l ORDER BY user_id, es, event_id""".stripMargin,
    // t51: identical first-occurrence pinning ((us, event_id) min
    // pair), appearance-order codes, one IEEE share division
    "t51_factorize" ->
      """WITH e AS (SELECT event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id FROM events),
        |a AS (SELECT event_type, us, event_id,
        |    ROW_NUMBER() OVER (PARTITION BY event_type
        |      ORDER BY us, event_id) AS rn,
        |    COUNT(*) OVER (PARTITION BY event_type) AS n FROM e),
        |f AS (SELECT event_type, n, us AS fus, event_id AS feid
        |  FROM a WHERE rn = 1),
        |c AS (SELECT event_type, n, fus,
        |    CAST(ROW_NUMBER() OVER (ORDER BY fus, feid) - 1 AS INT) AS code,
        |    SUM(n) OVER () AS total FROM f)
        |SELECT event_type, code, n,
        |  CAST(n AS DOUBLE) / CAST(total AS DOUBLE) AS share,
        |  fus AS first_us
        |FROM c ORDER BY code""".stripMargin,
    // t50: quantile_cont == Spark's exact interpolating percentile
    // (the q50-proven pairing); identical IEEE z chain, NULLIF guard
    "t50_mad_outliers" ->
      """WITH e AS (SELECT event_type, value FROM events),
        |m AS (SELECT event_type, quantile_cont(value, 0.5) AS med
        |  FROM e GROUP BY 1),
        |d AS (SELECT e.event_type, e.value, m.med,
        |    ABS(e.value - m.med) AS adev
        |  FROM e JOIN m USING (event_type)),
        |md AS (SELECT event_type, quantile_cont(adev, 0.5) AS mad
        |  FROM d GROUP BY 1),
        |z AS (SELECT d.event_type, d.value, d.med, md.mad,
        |    0.6745 * (d.value - d.med) / NULLIF(md.mad, 0.0) AS z
        |  FROM d JOIN md USING (event_type))
        |SELECT event_type, COUNT(*) AS n,
        |  ROUND(MAX(med), 6) AS med_value,
        |  ROUND(MAX(mad), 6) AS mad_value,
        |  COUNT(CASE WHEN ABS(z) > 3.5 THEN 1 END) AS n_outliers,
        |  ROUND(MAX(ABS(z)), 6) AS max_abs_z
        |FROM z GROUP BY event_type ORDER BY event_type""".stripMargin,
    // t49: identical explicit-lag frames and the identical pinned IEEE
    // sequence; constant-window corr = NULL on both engines (exact
    // all-equal test, no float threshold); no rounding anywhere
    "t49_rolling_corr" ->
      s"""WITH e AS (SELECT user_id, event_id,
        |    ${epochSecSql("ts")} AS es,
        |    value AS x, CAST(length(props) AS DOUBLE) AS y
        |  FROM events),
        |l AS (SELECT user_id, es, event_id, x, y,
        |    LAG(x, 1) OVER w AS x1, LAG(x, 2) OVER w AS x2,
        |    LAG(y, 1) OVER w AS y1, LAG(y, 2) OVER w AS y2
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY es, event_id))
        |SELECT user_id, es, event_id,
        |  CASE WHEN x2 IS NULL THEN NULL ELSE
        |    ((x*y + x1*y1 + x2*y2) - (x+x1+x2) * (y+y1+y2) / 3.0) / 2.0
        |  END AS roll_cov,
        |  CASE WHEN x2 IS NULL OR (x = x1 AND x1 = x2)
        |      OR (y = y1 AND y1 = y2) THEN NULL ELSE
        |    ((x*y + x1*y1 + x2*y2) - (x+x1+x2) * (y+y1+y2) / 3.0) /
        |    sqrt(((x*x + x1*x1 + x2*x2) - (x+x1+x2) * (x+x1+x2) / 3.0) *
        |         ((y*y + y1*y1 + y2*y2) - (y+y1+y2) * (y+y1+y2) / 3.0))
        |  END AS roll_corr
        |FROM l ORDER BY user_id, es, event_id""".stripMargin,
    // t48: identical integer-cents moments (exact at any accumulation
    // order) + the identical pinned division sequence; no rounding
    // t62: conditional-aggregation replay of the pivot — identical
    // cents sums (BIGINT), identical pinned mean sequence
    // (CAST(sc AS DOUBLE)/n/100.0), identical empty-cell null rule
    "t62_pivot_table" ->
      """WITH b AS (SELECT l_returnflag AS rf, l_linestatus AS ls,
        |    CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)
        |      AS c
        |  FROM lineitem),
        |cell AS (SELECT rf,
        |    CAST(COALESCE(SUM(c) FILTER (WHERE ls = 'F'), 0) AS BIGINT)
        |      AS f_sc,
        |    COUNT(*) FILTER (WHERE ls = 'F') AS f_n,
        |    CAST(COALESCE(SUM(c) FILTER (WHERE ls = 'O'), 0) AS BIGINT)
        |      AS o_sc,
        |    COUNT(*) FILTER (WHERE ls = 'O') AS o_n,
        |    CAST(SUM(c) AS BIGINT) AS all_sc, COUNT(*) AS all_n
        |  FROM b GROUP BY rf),
        |m AS (SELECT 'All' AS rf, CAST(SUM(f_sc) AS BIGINT) AS f_sc,
        |    CAST(SUM(f_n) AS BIGINT) AS f_n,
        |    CAST(SUM(o_sc) AS BIGINT) AS o_sc,
        |    CAST(SUM(o_n) AS BIGINT) AS o_n,
        |    CAST(SUM(all_sc) AS BIGINT) AS all_sc,
        |    CAST(SUM(all_n) AS BIGINT) AS all_n FROM cell),
        |u AS (SELECT * FROM cell UNION ALL SELECT * FROM m)
        |SELECT rf, f_sc AS f_sum_cents, f_n,
        |  CASE WHEN f_n > 0 THEN CAST(f_sc AS DOUBLE) / f_n / 100.0 END
        |    AS f_mean,
        |  o_sc AS o_sum_cents, o_n,
        |  CASE WHEN o_n > 0 THEN CAST(o_sc AS DOUBLE) / o_n / 100.0 END
        |    AS o_mean,
        |  all_sc AS all_sum_cents, all_n,
        |  CASE WHEN all_n > 0 THEN CAST(all_sc AS DOUBLE) / all_n / 100.0
        |    END AS all_mean
        |FROM u ORDER BY rf""".stripMargin,
    // t61: identical cents power sums in HUGEINT (exact 128-bit — the
    // internal-only type; only BIGINT/DOUBLE cross the boundary),
    // identical integer kernels, identical pinned IEEE chains
    // (m2^1.5 as m2*sqrt(m2) on BOTH engines — pow is not correctly
    // rounded), identical exact M2=0 and n guards. The M-kernels
    // reach double THROUGH VARCHAR: DuckDB's direct HUGEINT→DOUBLE
    // cast truncates instead of rounding (measured 1 ulp low on a
    // 65-bit M4), while its string→double parse is correctly rounded
    // like Spark's BigDecimal.doubleValue
    "t61_expanding_skew_kurt" ->
      s"""WITH e AS (SELECT user_id, event_id,
        |    ${epochSecSql("ts")} AS es,
        |    CAST(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)
        |      AS HUGEINT) AS c
        |  FROM events),
        |w AS (SELECT user_id, es, event_id,
        |    CAST(COUNT(*) OVER win AS HUGEINT) AS n,
        |    SUM(c) OVER win AS s1,
        |    SUM(c * c) OVER win AS s2,
        |    SUM(c * c * c) OVER win AS s3,
        |    SUM(c * c * c * c) OVER win AS s4
        |  FROM e
        |  WINDOW win AS (PARTITION BY user_id ORDER BY es, event_id
        |    ROWS UNBOUNDED PRECEDING)),
        |m AS (SELECT user_id, es, event_id, n,
        |    n * s2 - s1 * s1 AS m2i,
        |    n * n * s3 - 3 * n * s1 * s2 + 2 * s1 * s1 * s1 AS m3i,
        |    n * n * n * s4 - 4 * n * n * s1 * s3
        |      + 6 * n * s1 * s1 * s2 - 3 * s1 * s1 * s1 * s1 AS m4i
        |  FROM w)
        |SELECT user_id, es, event_id, CAST(n AS BIGINT) AS n,
        |  CASE WHEN n >= 3 AND m2i > 0 THEN
        |    (sqrt(CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1))
        |      / (CAST(n AS DOUBLE) - 2)) *
        |    (CAST(CAST(m3i AS VARCHAR) AS DOUBLE) /
        |      (CAST(CAST(m2i AS VARCHAR) AS DOUBLE)
        |        * sqrt(CAST(CAST(m2i AS VARCHAR) AS DOUBLE))))
        |  END AS exp_skew,
        |  CASE WHEN n >= 4 AND m2i > 0 THEN
        |    ((CAST(n AS DOUBLE) + 1) * (CAST(n AS DOUBLE) - 1)
        |      / ((CAST(n AS DOUBLE) - 2) * (CAST(n AS DOUBLE) - 3))) *
        |    (CAST(CAST(m4i AS VARCHAR) AS DOUBLE) /
        |      (CAST(CAST(m2i AS VARCHAR) AS DOUBLE)
        |        * CAST(CAST(m2i AS VARCHAR) AS DOUBLE)))
        |    - 3.0 * (CAST(n AS DOUBLE) - 1) * (CAST(n AS DOUBLE) - 1)
        |      / ((CAST(n AS DOUBLE) - 2) * (CAST(n AS DOUBLE) - 3))
        |  END AS exp_kurt
        |FROM m ORDER BY user_id, es, event_id""".stripMargin,
    "t48_expanding" ->
      s"""WITH e AS (SELECT user_id, event_id,
        |    ${epochSecSql("ts")} AS es,
        |    value,
        |    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
        |  FROM events),
        |w AS (SELECT user_id, es, event_id, value,
        |    COUNT(*) OVER win AS n,
        |    CAST(SUM(cents) OVER win AS BIGINT) AS sc,
        |    CAST(SUM(cents * cents) OVER win AS BIGINT) AS scc,
        |    MAX(value) OVER win AS exp_max
        |  FROM e
        |  WINDOW win AS (PARTITION BY user_id ORDER BY es, event_id
        |    ROWS UNBOUNDED PRECEDING))
        |SELECT user_id, es, event_id, n,
        |  CAST(sc AS DOUBLE) / n / 100.0 AS exp_mean,
        |  CAST(sc AS DOUBLE) / 100.0 AS exp_sum,
        |  exp_max,
        |  CASE WHEN n < 2 THEN NULL ELSE
        |    sqrt(CAST(CAST(n AS DECIMAL(19,0)) * CAST(scc AS DECIMAL(19,0))
        |        - CAST(sc AS DECIMAL(19,0)) * CAST(sc AS DECIMAL(19,0))
        |        AS DOUBLE)
        |      / CAST(n * (n - 1) AS DOUBLE) / 10000.0) END AS exp_std
        |FROM w ORDER BY user_id, es, event_id""".stripMargin,
    // t47: the contract grid is deterministic given lineitem's fixed
    // physical schema — pinned VALUES like t1/t3
    "t47_union_typecheck" ->
      """SELECT * FROM (VALUES
        | ('l_comment','string','missing','missing',false),
        | ('l_orderkey','int32 | int64','int64','match',true),
        | ('l_quantity','int64','float64','mismatch',false),
        | ('l_returnflag','string','string','match',true),
        | ('l_shipdate','','datetime','extra',true)
        |) t(col_name, declared, actual, status, ok) ORDER BY col_name""".stripMargin,
    // t46: categorical dictionary = sorted-distinct rank; sparse runs =
    // gaps-and-islands (event_id − row_number is run identity); the
    // round-trip mismatch count is structurally 0 — the oracle pins it
    "t46_sparse_categorical" ->
      """WITH e AS (SELECT event_id, event_type FROM events
        |    WHERE event_id < 2000),
        |d AS (SELECT event_type AS value,
        |    CAST(ROW_NUMBER() OVER (ORDER BY event_type) - 1 AS INT) AS code
        |  FROM (SELECT DISTINCT event_type FROM e)),
        |runs AS (SELECT event_type,
        |    COUNT(*) AS n_rows,
        |    COUNT(DISTINCT event_id - rn) AS n_runs
        |  FROM (SELECT event_type, event_id,
        |      ROW_NUMBER() OVER (PARTITION BY event_type
        |        ORDER BY event_id) AS rn FROM e)
        |  GROUP BY event_type)
        |SELECT d.value, d.code, runs.n_rows, runs.n_runs,
        |  CAST(0 AS BIGINT) AS n_bad
        |FROM d JOIN runs ON runs.event_type = d.value
        |ORDER BY d.code""".stripMargin,
    // t44: same seed-first linear fold — list_reduce uses element 1 as
    // the accumulator seed exactly like aggregate(slice(vals,2,i), vals[1])
    "t44_ewm" ->
      s"""WITH ${eventSecCte("value")},
        |g AS (SELECT user_id,
        |    list(value ORDER BY es, event_id, value) AS vals,
        |    list(event_id ORDER BY es, event_id, value) AS eids
        |  FROM e GROUP BY user_id),
        |p AS (SELECT user_id, vals, eids,
        |    unnest(generate_series(1, len(vals))) AS i FROM g)
        |SELECT user_id, eids[i] AS event_id, vals[i] AS value,
        |  list_reduce(vals[1:i],
        |    (acc, x) -> acc * 0.7 + x * 0.3) AS ewm
        |FROM p ORDER BY user_id, event_id""".stripMargin,
    // t45: identical lag frame + sums-of-squares identity, same IEEE
    // op order; explicit NULL guard mirrors the Spark-side when()
    "t45_rolling_std" ->
      s"""WITH ${eventSecCte("value")},
        |l AS (SELECT user_id, es, event_id, value,
        |    lag(value, 1) OVER (PARTITION BY user_id
        |      ORDER BY es, event_id) AS l1,
        |    lag(value, 2) OVER (PARTITION BY user_id
        |      ORDER BY es, event_id) AS l2
        |  FROM e)
        |SELECT user_id, es, event_id, value,
        |  (value + l1 + l2) / 3.0 AS roll_mean,
        |  CASE WHEN l1 IS NULL OR l2 IS NULL THEN NULL
        |    ELSE sqrt(GREATEST(0.0,
        |      (value * value + l1 * l1 + l2 * l2
        |        - (value + l1 + l2) * (value + l1 + l2) / 3.0) / 2.0))
        |    END AS roll_std
        |FROM l ORDER BY user_id, es, event_id""".stripMargin,
    // t37: identical IEEE sequence — decimal moments cast to DOUBLE,
    // then mean/var/sqrt/divide in the same order; sqrt is correctly
    // rounded (IEEE) so no cross-engine drift
    "t37_group_transform" ->
      """WITH e AS (SELECT event_id, event_type, value,
        |    CAST(value AS DECIMAL(12,2)) AS v FROM events),
        |st AS (SELECT event_type, COUNT(*) AS n,
        |    CAST(SUM(v) AS DOUBLE) AS s,
        |    CAST(SUM(CAST(v * v AS DECIMAL(34,4))) AS DOUBLE) AS sq
        |  FROM e GROUP BY 1),
        |j AS (SELECT e.event_id, e.event_type, e.value,
        |    s / n AS mean, (sq - s * s / n) / n AS variance
        |  FROM e JOIN st ON e.event_type = st.event_type)
        |SELECT event_id, event_type, value,
        |  ROUND((value - mean) / sqrt(variance), 6) AS z,
        |  abs((value - mean) / sqrt(variance)) > 2 AS outlier
        |FROM j ORDER BY event_id""".stripMargin,
    // t38: same three policies, same (es, event_id) pinning
    "t38_drop_duplicates" ->
      s"""WITH e AS (SELECT user_id, event_type, event_id,
        |    ${epochSecSql("ts")} AS es
        |  FROM events),
        |r AS (SELECT user_id, event_type, event_id,
        |    ROW_NUMBER() OVER (PARTITION BY user_id, event_type
        |      ORDER BY es ASC, event_id ASC) AS rf,
        |    ROW_NUMBER() OVER (PARTITION BY user_id, event_type
        |      ORDER BY es DESC, event_id DESC) AS rl,
        |    COUNT(*) OVER (PARTITION BY user_id, event_type) AS cnt
        |  FROM e)
        |SELECT 'first' AS policy, user_id, event_type, event_id
        |  FROM r WHERE rf = 1
        |UNION ALL
        |SELECT 'last', user_id, event_type, event_id FROM r WHERE rl = 1
        |UNION ALL
        |SELECT 'unique', user_id, event_type, event_id FROM r WHERE cnt = 1
        |ORDER BY policy, user_id, event_type""".stripMargin,
    // t42: pinned-level indicator projection, no discovery scan
    "t42_get_dummies" ->
      """SELECT o_orderkey, o_orderpriority,
        |  CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS pr_0,
        |  CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END AS pr_1,
        |  CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 ELSE 0 END AS pr_2,
        |  CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 ELSE 0 END AS pr_3,
        |  CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END AS pr_4
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    // t43: per-row guards — same IEEE compares and arithmetic, no aggs
    "t43_clip_where" ->
      """SELECT o_orderkey, o_totalprice AS price,
        |  LEAST(GREATEST(o_totalprice, 50000.0), 200000.0) AS clipped,
        |  CASE WHEN o_totalprice >= 100000.0 THEN o_totalprice
        |    ELSE -1.0 END AS where_hi,
        |  CASE WHEN o_totalprice >= 100000.0 THEN -1.0
        |    ELSE o_totalprice END AS mask_hi,
        |  o_totalprice BETWEEN 80000.0 AND 120000.0 AS in_band,
        |  ABS(o_totalprice - 150000.0) AS dist_150k
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    // t41: FULL OUTER + CASE on key nullability; nulls-first ordering
    // pinned on both engines
    "t41_merge_indicator" ->
      """SELECT o.o_orderkey, o.o_custkey, c.c_custkey, c.c_mktsegment,
        |  CASE WHEN o.o_custkey IS NOT NULL AND c.c_custkey IS NOT NULL
        |      THEN 'both'
        |    WHEN o.o_custkey IS NOT NULL THEN 'left_only'
        |    ELSE 'right_only' END AS merge_ind
        |FROM (SELECT o_orderkey, o_custkey FROM orders
        |      WHERE o_orderkey % 4 = 0) o FULL OUTER JOIN
        |  (SELECT c_custkey, c_mktsegment FROM customer
        |   WHERE c_custkey % 3 = 0) c
        |  ON o.o_custkey = c.c_custkey
        |ORDER BY o_orderkey ASC NULLS FIRST, c_custkey ASC NULLS FIRST"""
        .stripMargin,
    // t40: instants → IANA wall clocks; epoch(naive-local) − es gives
    // the realized offset on both engines (naive read back as UTC)
    "t40_timezone" ->
      s"""WITH e AS (SELECT event_id,
        |    ${epochSecSql("ts")}
        |      + (event_id % 365) * 86400 AS es
        |  FROM events)
        |SELECT event_id, es,
        |  strftime(to_timestamp(es) AT TIME ZONE 'UTC',
        |    '%Y-%m-%d %H:%M:%S') AS utc_str,
        |  strftime(to_timestamp(es) AT TIME ZONE 'America/New_York',
        |    '%Y-%m-%d %H:%M:%S') AS ny_str,
        |  CAST((epoch(to_timestamp(es) AT TIME ZONE 'America/New_York')
        |    - es) / 60 AS INT) AS ny_offset_min,
        |  strftime(to_timestamp(es) AT TIME ZONE 'Asia/Kolkata',
        |    '%Y-%m-%d %H:%M:%S') AS kolkata_str,
        |  CAST((epoch(to_timestamp(es) AT TIME ZONE 'Asia/Kolkata')
        |    - es) / 60 AS INT) AS kolkata_offset_min
        |FROM e ORDER BY event_id""".stripMargin,
    // t39: conditional-count crosstab + UNION margin row; shares divide
    // the same longs in the same order, round-6
    "t39_crosstab" ->
      """WITH w AS (SELECT o_orderpriority AS priority,
        |    SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS f,
        |    SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS o,
        |    SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS p
        |  FROM orders GROUP BY 1),
        |m AS (SELECT priority, f, o, p, f + o + p AS rt FROM w
        |  UNION ALL
        |  SELECT 'All', SUM(f), SUM(o), SUM(p), SUM(f + o + p) FROM w)
        |SELECT priority, CAST(f AS BIGINT) AS f_cnt, CAST(o AS BIGINT) AS o_cnt,
        |  CAST(p AS BIGINT) AS p_cnt,
        |  CAST(rt AS BIGINT) AS row_total,
        |  ROUND(CAST(f AS DOUBLE) / rt, 6) AS f_share,
        |  ROUND(CAST(o AS DOUBLE) / rt, 6) AS o_share,
        |  ROUND(CAST(p AS DOUBLE) / rt, 6) AS p_share
        |FROM m ORDER BY priority""".stripMargin,
    // t36: list-function-for-lambda replay; both sides sort before any
    // order-sensitive read, so collect order can't leak
    "t36_array_ops" ->
      """WITH per AS (SELECT l_orderkey,
        |    list_sort(list(CAST(l_quantity AS INT))) AS qs
        |  FROM lineitem GROUP BY 1)
        |SELECT l_orderkey,
        |  array_to_string(qs, ',') AS qs_str,
        |  CAST(len(qs) AS INT) AS n_items,
        |  CAST(list_sum(qs) AS BIGINT) AS q_sum,
        |  CAST(len(list_filter(qs, x -> x > 25)) AS INT) AS n_big,
        |  list_contains(qs, 50) AS has_50,
        |  array_to_string(list_transform(qs, x -> x * 2), ',') AS doubled,
        |  qs[1] AS q_min,
        |  qs[-1] AS q_max
        |FROM per ORDER BY l_orderkey""".stripMargin,
    // t35: function-for-function replay (1-based substr both sides)
    "t35_str_accessor" ->
      """SELECT c_custkey,
        |  upper(c_name) AS nm_upper,
        |  lower(c_mktsegment) AS seg_lower,
        |  reverse(c_name) AS nm_rev,
        |  lpad(CAST(c_custkey AS VARCHAR), 9, '0') AS key_zfill,
        |  rpad(c_mktsegment, 12, '.') AS seg_pad,
        |  substr(c_name, 1, 4) AS nm_slice,
        |  contains(c_mktsegment, 'I') AS seg_has_i,
        |  starts_with(c_name, 'Customer') AS nm_is_cust,
        |  regexp_extract(c_name, '([0-9]+)', 1) AS nm_digits,
        |  ltrim(regexp_extract(c_name, '([0-9]+)', 1), '0')
        |    AS nm_digits_stripped,
        |  split_part(c_name, '#', 2) AS nm_after_hash,
        |  repeat(substr(c_mktsegment, 1, 2), 3) AS seg_echo,
        |  length(c_name) AS nm_len,
        |  regexp_replace(c_name, '^Customer', 'Cust') AS nm_short
        |FROM customer ORDER BY c_custkey""".stripMargin,
    // t32: UNION ALL replay of the unpivot (same common-double cast)
    "t32_melt" ->
      """WITH li AS (SELECT l_orderkey, l_linenumber, l_quantity,
        |    l_extendedprice, l_discount, l_tax
        |  FROM lineitem WHERE l_orderkey % 20 = 0)
        |SELECT l_orderkey, l_linenumber, variable, value FROM (
        |  SELECT l_orderkey, l_linenumber, 'l_quantity' AS variable,
        |    CAST(l_quantity AS DOUBLE) AS value FROM li
        |  UNION ALL SELECT l_orderkey, l_linenumber, 'l_extendedprice',
        |    CAST(l_extendedprice AS DOUBLE) FROM li
        |  UNION ALL SELECT l_orderkey, l_linenumber, 'l_discount',
        |    CAST(l_discount AS DOUBLE) FROM li
        |  UNION ALL SELECT l_orderkey, l_linenumber, 'l_tax',
        |    CAST(l_tax AS DOUBLE) FROM li)
        |ORDER BY l_orderkey, l_linenumber, variable""".stripMargin,
    // t33: same four tie policies; average = min + (ties-1)/2 is the
    // mean of the tie positions in both engines
    "t33_rank_methods" ->
      """SELECT p_partkey, p_brand, p_size,
        |  RANK() OVER w AS r_min,
        |  DENSE_RANK() OVER w AS r_dense,
        |  ROW_NUMBER() OVER (PARTITION BY p_brand
        |    ORDER BY p_size, p_partkey) AS r_first,
        |  RANK() OVER w + (COUNT(*) OVER (PARTITION BY p_brand, p_size)
        |    - 1) / 2.0 AS r_avg,
        |  ROUND((RANK() OVER w + (COUNT(*) OVER (PARTITION BY p_brand,
        |      p_size) - 1) / 2.0)
        |    / COUNT(*) OVER (PARTITION BY p_brand), 6) AS r_pct
        |FROM part
        |WINDOW w AS (PARTITION BY p_brand ORDER BY p_size)
        |ORDER BY p_partkey""".stripMargin,
    // t34: decimal-exact diff/cumsum; pct_change is the identical IEEE
    // double division; first-row lag is NULL in both engines
    "t34_shift_diff" ->
      s"""WITH e AS (SELECT user_id, event_id, value,
        |    ${epochSecSql("ts")} AS es
        |  FROM events),
        |l AS (SELECT user_id, es, event_id, value,
        |    LAG(value) OVER (PARTITION BY user_id ORDER BY es, event_id)
        |      AS v_prev
        |  FROM e)
        |SELECT user_id, es, event_id, v_prev,
        |  CAST(CAST(value AS DECIMAL(12,2)) - CAST(v_prev AS DECIMAL(12,2))
        |    AS DOUBLE) AS diff,
        |  value / NULLIF(v_prev, 0) - 1.0 AS pct_change,
        |  CAST(SUM(CAST(value AS DECIMAL(12,2)))
        |    OVER (PARTITION BY user_id ORDER BY es, event_id
        |      ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS cum_sum,
        |  MAX(value) OVER (PARTITION BY user_id ORDER BY es, event_id
        |    ROWS UNBOUNDED PRECEDING) AS cum_max
        |FROM l ORDER BY user_id, es, event_id""".stripMargin,
    // t31: identical edge derivations (min/max; quantile_cont ==
    // Spark's exact interpolating percentile) and the identical
    // assignment expressions — same IEEE sequences, same boundary
    // semantics (rightmost inclusive; (e_{i-1}, e_i] quartiles)
    "t31_cut_qcut" ->
      s"""WITH st AS (SELECT CAST(MIN(value) AS DOUBLE) AS lo,
        |    CAST(MAX(value) AS DOUBLE) AS hi,
        |    quantile_cont(value, 0.25) AS e1, quantile_cont(value, 0.5) AS e2,
        |    quantile_cont(value, 0.75) AS e3
        |  FROM events),
        |cb AS (SELECT CASE WHEN hi = lo THEN 0
        |    ELSE CAST(LEAST(FLOOR((CAST(value AS DOUBLE) - lo) /
        |      ((hi - lo) / 8)), 7) AS INT) END AS bin, value
        |  FROM events, st),
        |qb AS (SELECT CASE WHEN CAST(value AS DOUBLE) <= e1 THEN 0
        |    WHEN CAST(value AS DOUBLE) <= e2 THEN 1
        |    WHEN CAST(value AS DOUBLE) <= e3 THEN 2 ELSE 3 END AS bin, value
        |  FROM events, st)
        |SELECT 'cut' AS kind, bin, COUNT(*) AS n,
        |  MIN(value) AS vmin, MAX(value) AS vmax,
        |  ${dsumSql("value")} AS total
        |FROM cb GROUP BY bin
        |UNION ALL
        |SELECT 'qcut' AS kind, bin, COUNT(*) AS n,
        |  MIN(value) AS vmin, MAX(value) AS vmax,
        |  ${dsumSql("value")} AS total
        |FROM qb GROUP BY bin
        |ORDER BY kind, bin""".stripMargin,
    // the raw strings round-trip losslessly, so the oracle is simply
    // the original typed table — any inference or cast error diverges
    "t28_ingest_infer" ->
      """SELECT o_orderkey AS k, o_totalprice AS price,
        |  o_orderdate AS ts, o_orderpriority AS prio
        |FROM orders ORDER BY k""".stripMargin,
    // t30: identical IEEE op order on identical parquet doubles →
    // bit-exact blend; leading/trailing nulls stay null on both sides
    "t30_interpolate" ->
      """WITH src AS (SELECT o_custkey AS g, o_orderkey AS x,
        |    CASE WHEN o_orderkey % 5 < 2 THEN NULL
        |         ELSE o_totalprice END AS v
        |  FROM orders),
        |n AS (SELECT g, x, v,
        |    LAST_VALUE(v IGNORE NULLS) OVER wp AS y0,
        |    LAST_VALUE(CASE WHEN v IS NOT NULL THEN x END IGNORE NULLS)
        |      OVER wp AS x0,
        |    FIRST_VALUE(v IGNORE NULLS) OVER wn AS y1,
        |    FIRST_VALUE(CASE WHEN v IS NOT NULL THEN x END IGNORE NULLS)
        |      OVER wn AS x1
        |  FROM src
        |  WINDOW wp AS (PARTITION BY g ORDER BY x
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |    wn AS (PARTITION BY g ORDER BY x
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT g, x,
        |  CASE WHEN v IS NOT NULL THEN v
        |       WHEN y0 IS NULL OR y1 IS NULL THEN NULL
        |       ELSE y0 + (y1 - y0) * (x - x0) / (x1 - x0) END AS v_interp,
        |  v IS NULL AS was_null
        |FROM n ORDER BY g, x""".stripMargin,
    // t29: good column casts (identity on the key), bad column stays
    // the original strings — whole-column ignore semantics
    "t29_cast_ignore" ->
      """SELECT o_orderkey, o_orderkey AS k_good,
        |  CAST(o_orderkey AS VARCHAR) ||
        |    CASE WHEN o_orderkey % 2 = 1 THEN 'x' ELSE '' END AS k_bad
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "t27_profile" -> Seq("doc_id", "lang", "source", "n_chars").map(c =>
      s"""SELECT '$c' AS "column", COUNT(*) AS n,
         |  COUNT(*) - COUNT($c) AS n_null, COUNT(DISTINCT $c) AS n_distinct,
         |  CAST(MIN($c) AS VARCHAR) AS min_s, CAST(MAX($c) AS VARCHAR) AS max_s
         |FROM documents""".stripMargin)
      .mkString("", "\nUNION ALL\n", "\nORDER BY \"column\""),
    "t26_sparse_compute" ->
      """WITH e AS (SELECT event_id,
        |    CAST(CASE event_type WHEN 'click' THEN 0 WHEN 'view' THEN 1
        |      WHEN 'purchase' THEN 2 WHEN 'signup' THEN 3 ELSE 4 END AS BIGINT) AS v
        |  FROM events WHERE event_id < 5000),
        |m AS (SELECT event_id, v * 2 + 1 AS mv FROM e),
        |isl AS (SELECT COUNT(*) AS n_runs FROM (
        |  SELECT DISTINCT v, event_id - ROW_NUMBER() OVER (PARTITION BY v ORDER BY event_id) AS grp
        |  FROM e))
        |SELECT (SELECT COUNT(*) FROM m) AS n,
        |  (SELECT n_runs FROM isl) AS n_runs,
        |  (SELECT CAST(SUM(mv) AS BIGINT) FROM m) AS sum_v,
        |  (SELECT MIN(mv) FROM m) AS min_v,
        |  (SELECT MAX(mv) FROM m) AS max_v,
        |  (SELECT COUNT(*) FROM m WHERE mv = 1) AS n_fill,
        |  (SELECT COUNT(*) FROM m WHERE mv != 1) AS nnz""".stripMargin,
    "t25_object_roundtrip" ->
      """WITH li AS (SELECT l_orderkey, l_linenumber, l_extendedprice,
        |    l_returnflag, CAST(l_shipdate AS TIMESTAMP) AS sd
        |  FROM lineitem WHERE l_orderkey <= 300),
        |t AS (SELECT *, CASE CAST(l_linenumber % 4 AS INT)
        |    WHEN 0 THEN 'int:' || CAST(l_orderkey AS VARCHAR)
        |    WHEN 1 THEN 'float:' || CAST(l_extendedprice AS VARCHAR)
        |    WHEN 2 THEN 'bool:' ||
        |      (CASE WHEN l_returnflag = 'R' THEN 'true' ELSE 'false' END)
        |    ELSE 'datetime:' || strftime(sd, '%Y-%m-%d %H:%M:%S') END AS obj
        |  FROM li),
        |d AS (SELECT *, split_part(obj, ':', 1) AS tag,
        |    substr(obj, strpos(obj, ':') + 1) AS payload FROM t)
        |SELECT l_orderkey, l_linenumber, tag,
        |  CASE WHEN tag = 'int' THEN CAST(payload AS BIGINT) END AS v_int,
        |  CASE WHEN tag = 'float' THEN CAST(payload AS DOUBLE) END AS v_float,
        |  CASE WHEN tag = 'bool'
        |    THEN (CASE WHEN payload = 'true' THEN 1 ELSE 0 END) END AS v_bool,
        |  CASE WHEN tag = 'datetime'
        |    THEN epoch_us(strptime(payload, '%Y-%m-%d %H:%M:%S')) END AS v_ts_us,
        |  CASE WHEN tag = 'int' THEN CAST(payload AS BIGINT) = l_orderkey
        |       WHEN tag = 'float' THEN CAST(payload AS DOUBLE) = l_extendedprice
        |       WHEN tag = 'bool' THEN
        |         (CASE WHEN payload = 'true' THEN 1 ELSE 0 END = 1) = (l_returnflag = 'R')
        |       ELSE epoch_us(strptime(payload, '%Y-%m-%d %H:%M:%S')) = epoch_us(sd)
        |  END AS rt_ok
        |FROM d ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "t23_parse_datetime" ->
      """WITH b AS (SELECT o_orderkey, CAST(o_orderdate AS TIMESTAMP) AS d,
        |    CAST(o_orderdate AS TIMESTAMP) + INTERVAL (360) MONTH AS d30
        |  FROM orders WHERE o_orderkey <= 400),
        |f AS (SELECT o_orderkey,
        |    strftime(d, '%Y-%m-%d %H:%M:%S') AS iso_s,
        |    strftime(d, '%m/%d/%Y') AS us_s,
        |    strftime(d, '%d/%m/%Y') AS df_s,
        |    strftime(d30, '%y/%m/%d') AS yf_s,
        |    CASE WHEN o_orderkey % 3 = 0 THEN 'not a date'
        |         ELSE strftime(d, '%Y-%m-%d') END AS mixed_s
        |  FROM b)
        |SELECT o_orderkey, iso_s,
        |  epoch_us(strptime(iso_s, '%Y-%m-%d %H:%M:%S')) AS us_iso,
        |  epoch_us(strptime(us_s, '%m/%d/%Y')) AS us_fmt,
        |  epoch_us(strptime(df_s, '%d/%m/%Y')) AS us_dayfirst,
        |  epoch_us(strptime(yf_s, '%y/%m/%d')) AS us_yearfirst,
        |  epoch_us(timezone('America/New_York',
        |    strptime(iso_s, '%Y-%m-%d %H:%M:%S'))) AS us_tz,
        |  CASE WHEN o_orderkey % 3 = 0 THEN NULL
        |       ELSE epoch_us(strptime(mixed_s, '%Y-%m-%d')) END AS us_coerce
        |FROM f ORDER BY o_orderkey""".stripMargin,
    "t24_to_string" ->
      """WITH b AS (SELECT o_orderkey,
        |    o_orderkey * (CASE WHEN o_orderkey % 2 = 1 THEN -1 ELSE 1 END) AS v,
        |    CAST(o_orderdate AS TIMESTAMP) AS d
        |  FROM orders WHERE o_orderkey <= 500),
        |m AS (SELECT *, ABS(v) AS mag,
        |    CASE WHEN v < 0 THEN '-' ELSE '' END AS sg FROM b)
        |SELECT o_orderkey, v,
        |  sg || format('{:x}', mag) AS hex_s,
        |  sg || format('{:b}', mag) AS bin_s,
        |  sg || format('{:o}', mag) AS oct_s,
        |  CASE WHEN o_orderkey % 2 = 0 THEN 'true' ELSE 'false' END AS bool_s,
        |  strftime(d, '%Y-%m-%d %H:%M:%S') AS ts_s,
        |  v AS rt
        |FROM m ORDER BY o_orderkey""".stripMargin,
    "t21_unit_calendar" ->
      """WITH b AS (SELECT o_orderkey, CAST(o_orderkey % 480 AS INT) AS nm,
        |             CAST(o_orderkey % 40 AS INT) AS ny
        |           FROM orders WHERE o_orderkey <= 500)
        |SELECT o_orderkey, nm, ny,
        |  CAST(epoch(TIMESTAMP '1960-01-01 00:00:00' + INTERVAL (nm) MONTH) AS BIGINT) AS ts_m,
        |  CAST(epoch(TIMESTAMP '1970-01-01 00:00:00' + INTERVAL (ny * 12) MONTH) AS BIGINT) AS ts_y,
        |  CAST(epoch(TIMESTAMP '1858-11-16 12:00:00' + INTERVAL (nm * 3) MONTH) AS BIGINT) AS ts_q,
        |  CAST(epoch(TIMESTAMP '1899-12-30 00:00:00' + INTERVAL (nm) MONTH) AS BIGINT) AS ts_l,
        |  CAST(epoch(TIMESTAMP '1980-01-06 00:00:00') AS BIGINT) + CAST(nm AS BIGINT) * 5 AS ts_s5,
        |  CAST(nm AS BIGINT) AS m_rt,
        |  CAST(ny AS BIGINT) AS y_rt
        |FROM b ORDER BY o_orderkey""".stripMargin,
    "t22_parse_strings" -> t22OracleSql,
    "t20_round_decimal" -> {
      // exact integer-cents mirror: rounding a 2-dec value to 1 decimal
      // == round_div(cents, 10, rule)/10, reusing the divSql formulas
      val ruleCols = Rounding.validRules
        .map(r => s"  CAST(${divBodySql(r)} AS DOUBLE) / 10 AS d_$r")
        .mkString(",\n")
      s"""SELECT l_orderkey, l_linenumber, CAST(a AS DOUBLE) / 100 AS x,
         |$ruleCols
         |${divFromSql("""CAST(ROUND(l_extendedprice * 100) AS BIGINT)
         |        * (CASE WHEN l_linenumber % 2 = 0 THEN -1 ELSE 1 END)""".stripMargin, "CAST(10 AS BIGINT)")}
         |ORDER BY l_orderkey, l_linenumber""".stripMargin
    },
    "t1_detect_types" ->
      """SELECT * FROM (VALUES
        | ('phys_double','float64'), ('phys_long','int64'), ('s_bool','bool'),
        | ('s_date','datetime'), ('s_float','float64'), ('s_int','int64'),
        | ('s_str','string')) t(col_name, detected) ORDER BY col_name""".stripMargin,
    "t2_resolve_spec" ->
      """SELECT * FROM (VALUES
        | ('?','bool','bool'), ('NA','missing','missing'), ('bool','bool','bool'),
        | ('categorical[string]','categorical[string]','string'),
        | ('complex64','complex64','complex'), ('datetime[UTC]','datetime[UTC]','datetime'),
        | ('decimal(10,2)','decimal(10,2)','decimal'), ('float32','float32','float'),
        | ('half','float16','float'), ('i8','int64','int'),
        | ('object','object','object'),
        | ('sparse[categorical[int8]]','sparse[categorical[int8]]','int'),
        | ('sparse[int, 0]','sparse[int64, 0]','int'), ('str','string','string'),
        | ('timedelta','timedelta','timedelta'), ('uint16','uint16','int'),
        | ('int | float','int64 | float64','union'),
        | ('bool | sparse[int8]','bool | sparse[int8]','union'),
        | ('foo: int32','Union[foo: int32]','union'),
        | ('foo: int32 | int64, bar: bool','Union[foo: int32 | int64, bar: bool]','union'),
        | ('Union[foo: categorical[string], bar: decimal]','Union[foo: categorical[string], bar: decimal(38,18)]','union'),
        | ('int8, uint32','int8 | uint32','union'),
        | ('Union[int16, int32 | int64]','int16 | int32 | int64','union')
        |) t(spec, canonical, family) ORDER BY spec""".stripMargin,
    "t3_typecheck" ->
      """SELECT * FROM (VALUES
        | ('l_linenumber','int32','int32',true), ('l_linestatus','string','string',true),
        | ('l_orderkey','int64','int64',true), ('l_quantity','int64','float64',false),
        | ('l_returnflag','bool','string',false), ('l_shipdate','datetime','datetime',true)
        |) t(col_name, expected, actual, ok) ORDER BY col_name""".stripMargin,
    "t4_cast_int" ->
      s"""SELECT l_orderkey, l_linenumber,
         |  CASE WHEN ${roundSql("l_quantity", "half_even", 0)} BETWEEN -128 AND 127
         |    THEN CAST(${roundSql("l_quantity", "half_even", 0)} AS TINYINT) END AS qty_i8,
         |  CASE WHEN ${roundSql("l_extendedprice", "floor", 0)} BETWEEN -2147483648 AND 2147483647
         |    THEN CAST(${roundSql("l_extendedprice", "floor", 0)} AS INTEGER) END AS price_i32,
         |  CASE WHEN ${roundSql("l_extendedprice", "half_up", 0)} BETWEEN -128 AND 127
         |    THEN CAST(${roundSql("l_extendedprice", "half_up", 0)} AS TINYINT) END AS price_i8
         |FROM lineitem WHERE l_orderkey <= 200 ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "t5_cast_bool" ->
      """SELECT COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_true,
        |  COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS n_false,
        |  COUNT(CASE WHEN o_orderstatus NOT IN ('F','O') THEN 1 END) AS n_null
        |FROM orders""".stripMargin,
    "t6_cast_string_num" ->
      s"""WITH r AS (SELECT CASE
         |  WHEN l_linenumber % 4 = 0 THEN CAST(l_extendedprice AS VARCHAR)
         |  WHEN l_linenumber % 4 = 1 THEN '  ' || CAST(l_quantity AS VARCHAR) || ' '
         |  WHEN l_linenumber % 4 = 2 THEN 'N/A'
         |  ELSE '$$' || CAST(l_extendedprice AS VARCHAR) END AS raw FROM lineitem),
         |p AS (SELECT CASE WHEN regexp_matches(TRIM(raw), '$floatReSql')
         |  THEN CAST(TRIM(raw) AS DOUBLE) END AS v FROM r)
         |SELECT COUNT(v) AS n_parsed, COUNT(CASE WHEN v IS NULL THEN 1 END) AS n_failed,
         |  ${dsumSql("v")} AS total FROM p""".stripMargin,
    "t7_cast_datetime" ->
      s"""SELECT event_id, es, es * 1000000 AS us_epoch,
        |  1704067200000000 + es * 60000000 AS us_minutes
        |FROM (SELECT event_id,
        |  ${epochSecSql("ts")} AS es
        |  FROM events WHERE event_id < 100) ORDER BY event_id""".stripMargin,
    "t8_cast_timedelta" ->
      """SELECT o_orderkey,
        |  CAST(FLOOR((epoch(o_orderdate) - epoch(TIMESTAMP '1995-01-01')) / 86400) AS BIGINT) AS d_days,
        |  CAST(FLOOR((epoch(o_orderdate) - epoch(TIMESTAMP '1995-01-01')) / 604800) AS BIGINT) AS d_weeks,
        |  CAST(FLOOR((epoch(o_orderdate) - epoch(TIMESTAMP '1995-01-01')) / 3600) AS BIGINT) AS d_hours,
        |  CAST(FLOOR((epoch(o_orderdate) - epoch(TIMESTAMP '1995-01-01')) / 86400) AS BIGINT) * 86400000000 AS td_us
        |FROM orders WHERE o_orderkey <= 300 ORDER BY o_orderkey""".stripMargin,
    "t9_cast_decimal" ->
      """SELECT o_orderkey,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price_dec,
        |  CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 2 AS DECIMAL(20,2)) AS DOUBLE) AS price_x2
        |FROM orders WHERE o_orderkey <= 300 ORDER BY o_orderkey""".stripMargin,
    "t10_round_rules" -> {
      val ruleCols = Rounding.validRules
        .map(r => s"  ${roundSql("x", r, 1)} AS r_$r").mkString(",\n")
      s"""SELECT l_orderkey, l_linenumber, x,
         |$ruleCols
         |FROM (SELECT l_orderkey, l_linenumber,
         |  l_extendedprice * (CASE WHEN l_linenumber % 2 = 0 THEN -1.0 ELSE 1.0 END) AS x
         |  FROM lineitem WHERE l_orderkey <= 100)
         |ORDER BY l_orderkey, l_linenumber""".stripMargin
    },
    "t11_round_div" -> {
      val ruleCols = Rounding.validRules.map(r => "  " + divSql(r)).mkString(",\n")
      s"""SELECT l_orderkey, l_linenumber, a, b,
         |$ruleCols
         |${divFromSql("CAST(l_quantity AS BIGINT) * (CASE WHEN l_linenumber % 2 = 0 THEN -1 ELSE 1 END)",
              "CAST(l_linenumber AS BIGINT)")}
         |ORDER BY l_orderkey, l_linenumber""".stripMargin
    },
    "t12_tolerance_snap" ->
      s"""SELECT event_id, value,
         |  CASE WHEN ABS(value - ${roundSql("value", "half_up", 0)}) <= 0.3
         |    THEN ${roundSql("value", "half_up", 0)} ELSE value END AS snapped
         |FROM events WHERE event_id < 200 ORDER BY event_id""".stripMargin,
    "t13_downcast" -> {
      val intCase =
        """CASE WHEN MIN(%s) >= -128 AND MAX(%s) <= 127 THEN 'int8'
          | WHEN MIN(%s) >= -32768 AND MAX(%s) <= 32767 THEN 'int16'
          | WHEN MIN(%s) >= -2147483648 AND MAX(%s) <= 2147483647 THEN 'int32'
          | ELSE 'int64' END""".stripMargin
      def one(c: String, isFloat: Boolean): String = {
        val ic = intCase.replace("%s", c)
        val target =
          if (!isFloat) ic
          else
            s"""CASE WHEN COUNT(CASE WHEN $c != FLOOR($c) THEN 1 END) = 0 THEN $ic
               | WHEN COUNT(CASE WHEN $c != CAST(CAST($c AS REAL) AS DOUBLE) THEN 1 END) = 0
               |   THEN 'float32' ELSE 'float64' END""".stripMargin
        s"""SELECT '$c' AS col_name, CAST(MIN($c) AS DOUBLE) AS lo,
           | CAST(MAX($c) AS DOUBLE) AS hi, $target AS target FROM lineitem"""
          .stripMargin.replaceAll("\n", " ")
      }
      Seq(one("l_orderkey", false), one("l_partkey", false),
        one("l_suppkey", false), one("l_linenumber", false),
        one("l_quantity", true), one("l_extendedprice", true),
        one("l_discount", true))
        .mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
    },
    "t14_missing" ->
      s"""WITH w AS (SELECT CASE WHEN l_quantity > 45 THEN NULL ELSE l_quantity END AS q
        | FROM lineitem)
        |SELECT COUNT(*) AS n, COUNT(CASE WHEN q IS NULL THEN 1 END) AS n_null,
        |  COUNT(q) AS n_valid,
        |  ${dsumSql("COALESCE(q, 0.0)")} AS sum_filled,
        |  ${dsumSql("q")} / COUNT(q) AS avg_skipna
        |FROM w""".stripMargin,
    "t15_categorical" ->
      """SELECT value, CAST(DENSE_RANK() OVER (ORDER BY value) - 1 AS INTEGER) AS code, n
        |FROM (SELECT l_returnflag AS value, COUNT(*) AS n FROM lineitem GROUP BY 1)
        |ORDER BY code""".stripMargin,
    "t16_sparse" ->
      """WITH e AS (SELECT event_id, event_type FROM events WHERE event_id < 2000),
        |g AS (SELECT event_id, event_type,
        |  ROW_NUMBER() OVER (ORDER BY event_id)
        |    - ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY event_id) AS grp
        | FROM e)
        |SELECT event_type AS value, MIN(event_id) AS start_id, COUNT(*) AS run_len
        |FROM g GROUP BY event_type, grp ORDER BY start_id""".stripMargin,
    "t17_time_units" ->
      """SELECT o_orderkey, CAST(year(o_orderdate) AS INTEGER) AS y,
        |  CAST(quarter(o_orderdate) AS INTEGER) AS q,
        |  CAST(month(o_orderdate) AS INTEGER) AS m,
        |  CAST(day(o_orderdate) AS INTEGER) AS d,
        |  CAST(dayofweek(o_orderdate) AS INTEGER) AS dow,
        |  CAST(day(last_day(o_orderdate)) AS INTEGER) AS dim,
        |  (year(o_orderdate) % 4 = 0 AND year(o_orderdate) % 100 != 0)
        |    OR year(o_orderdate) % 400 = 0 AS leap,
        |  CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS ord,
        |  CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS ord_rt
        |FROM orders WHERE o_orderkey <= 200 ORDER BY o_orderkey""".stripMargin,
    "t18_cast_complex" ->
      """SELECT c_custkey,
        |  c_acctbal * 2.0 + CAST(c_custkey AS DOUBLE) AS prod_re,
        |  CAST(c_custkey AS DOUBLE) * 2.0 - c_acctbal AS prod_im,
        |  sqrt(c_acctbal * c_acctbal + CAST(c_custkey AS DOUBLE) * CAST(c_custkey AS DOUBLE)) AS modulus
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "t19_mixed_sac" ->
      s"""WITH m AS (SELECT CASE
         |  WHEN l_linenumber % 3 = 0 THEN CAST(l_extendedprice AS VARCHAR)
         |  WHEN l_linenumber % 3 = 1 THEN CAST(CAST(l_quantity AS INTEGER) AS VARCHAR)
         |  ELSE (CASE WHEN l_returnflag = 'R' THEN 'true' ELSE 'false' END) END AS raw
         | FROM lineitem),
         |c AS (SELECT
         |  CASE WHEN regexp_matches(raw, '^[+-]?[0-9]+$$') THEN 'int'
         |    WHEN regexp_matches(raw, '$floatReSql') THEN 'float'
         |    WHEN lower(raw) IN ('true','false') THEN 'bool'
         |    ELSE 'string' END AS subtype,
         |  CASE WHEN regexp_matches(TRIM(raw), '$floatReSql')
         |    THEN CAST(TRIM(raw) AS DOUBLE) END AS v
         | FROM m)
         |SELECT subtype, COUNT(*) AS n,
         |  ${dsumSql("v")} AS total
         |FROM c GROUP BY subtype ORDER BY subtype""".stripMargin,
  )
}
