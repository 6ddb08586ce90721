package graft.oracle

import graft.oracle.Fragments._

/** DuckDB replays of the relational registry
  * ([[graft.relational.Relational.queries]]): one ANSI SQL string per
  * query with an oracle, served by [[graft.SparkEntry.oracleSql]]. */
object RelationalOracle {

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

  /** q27 and q29 (the native as-of join) share one replay: each
    * purchase's latest view at or before it, same-second views
    * collapsed to the largest event id. */
  private val asofSql: String =
    s"""WITH e AS (SELECT event_id, user_id,
       |    ${epochSecSql("ts")} AS es,
       |    event_type, value FROM events),
       |p AS (SELECT event_id, user_id, es FROM e WHERE event_type = 'purchase'),
       |v AS (SELECT user_id, es AS v_es, arg_max(event_id, event_id) AS v_id,
       |      arg_max(value, event_id) AS v_value
       |      FROM e WHERE event_type = 'view' GROUP BY user_id, es)
       |SELECT p.event_id, p.user_id, p.es, v.v_id AS r_v_id,
       |  v.v_value AS r_v_value, v.v_es AS r_v_es
       |FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.es >= v.v_es
       |ORDER BY p.event_id""".stripMargin

  val sql: Map[String, String] = Map(
    // q76: the match derived from FIRST PRINCIPLES — containment
    // argmax (latest valid_from <= as_at, ties to max ver_oid) over
    // the same SCD2 dim — certifying the as-of reduction's semantics
    "q76_temporal_dim_join" ->
      s"""WITH feed AS (SELECT o_custkey AS k,
        |    ${epochSecSql("o_orderdate")}
        |      AS ts,
        |    o_orderkey AS oid, o_orderpriority AS attr FROM orders),
        |dim AS (SELECT k, ts AS valid_from, oid AS ver_oid, attr FROM (
        |    SELECT k, ts, oid, attr,
        |      LAG(attr) OVER (PARTITION BY k ORDER BY ts, oid) AS prev
        |    FROM feed) t
        |  WHERE prev IS NULL OR attr <> prev),
        |facts AS (SELECT o_custkey AS k, o_orderkey,
        |    ${epochSecSql("o_orderdate")}
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
      s"""WITH ${eventSecCte("event_type")},
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
      s"""SELECT CASE WHEN year(o_orderdate) <= 1995 THEN 'legacy'
        |    ELSE 'ch' || CAST(o_orderkey % 3 AS VARCHAR) END AS channel,
        |  COUNT(*) AS n,
        |  ${dsumSql("o_totalprice")} AS revenue
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
      s"""SELECT event_type, COUNT(*) AS n,
        |  COUNT(DISTINCT user_id) AS n_users,
        |  ${dsumSql("value")} AS total_value
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
      s"""SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
        |  COUNT(*) AS n_items,
        |  ${dsumSql("l_extendedprice")}
        |    AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY o_year""".stripMargin,
    // q68: identical q24 session assignment, distinct (session, type)
    // sets, unordered pair join, and the exact-integer-product lift
    "q68_session_cooccurrence" ->
      s"""WITH ${eventSecCte("event_type")},
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
      s"""WITH ${eventSecCte("event_type")},
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
      s"""WITH iv AS (SELECT user_id, event_id,
        |    ${epochSecSql("ts")} AS ss,
        |    ${epochSecSql("ts")}
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
      s"""WITH feed AS (SELECT o_custkey AS k,
        |    ${epochSecSql("o_orderdate")}
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
      s"""WITH e AS (SELECT event_id, user_id,
        |    ${epochSecSql("ts")} AS es,
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
      s"""SELECT o_custkey AS k, COUNT(*) AS cnt,
        |  ${dsumSql("o_totalprice")} AS total,
        |  CAST(MIN(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS lo,
        |  CAST(MAX(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS hi,
        |  ROUND(${dsumSql("o_totalprice")}
        |    / COUNT(*), 6) AS avg_price
        |FROM orders GROUP BY o_custkey ORDER BY k""".stripMargin,
    // q53: identical RANGE frame over epoch seconds; decimal-exact sum
    "q53_range_frame" ->
      s"""WITH e AS (SELECT user_id, event_id,
        |    ${epochSecSql("ts")} AS es,
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
      s"""WITH e AS (SELECT user_id,
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
        |  ${dsumSql("value")} AS total_value
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
    "q27_asof_join" -> asofSql,
    "q29_asof_native" -> asofSql,
    "q28_range_join" ->
      s"""WITH e AS (SELECT event_id, user_id,
        |    ${epochSecSql("ts")} AS es,
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
         |  ${decToDoubleSql(s"SUM($revenueSql)")} AS sum_disc_price,
         |  ${decToDoubleSql(s"SUM($revenueSql * (1 + CAST(l_tax AS DECIMAL(12,2))))")} AS sum_charge,
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
      s"""WITH e AS (SELECT user_id,
        |    ${epochSecSql("ts")} AS es,
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
      s"""WITH e AS (
        |  SELECT user_id, event_id,
        |    ${epochSecSql("ts")} AS es
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
      s"""WITH e AS (SELECT user_id, event_id, event_type,
        |    ${epochSecSql("ts")} AS es
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
      s"""WITH feed AS (SELECT o_custkey AS k,
        |    ${epochSecSql("o_orderdate")} AS ts,
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
      s"""WITH e AS (SELECT user_id, event_id, value,
        |    ${epochSecSql("ts")} // 86400 AS ds,
        |    ${epochSecSql("ts")} AS es
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
      s"""SELECT l_orderkey, o_orderdate, CAST(SUM($revenueSql) AS DOUBLE) AS rev
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
      s"""SELECT n_name, CAST(SUM($revenueSql) AS DOUBLE) AS rev
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
      s"""SELECT 100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO' THEN $revenueSql
         |    ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
         |  / CAST(SUM($revenueSql) AS DOUBLE) AS promo_revenue
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-04-01'""".stripMargin,
    "q15_scalar_subq" ->
      s"""SELECT ${dsumSql("l_extendedprice")} / 7.0 AS avg_yearly
        |FROM lineitem JOIN (
        |  SELECT l_partkey AS ap_partkey,
        |    ${dsumSql("l_quantity")} / COUNT(*) AS avg_qty
        |  FROM lineitem GROUP BY l_partkey) ON l_partkey = ap_partkey
        |WHERE l_quantity < 0.5 * avg_qty""".stripMargin,
    "q16_groupagg_topk" ->
      s"""SELECT l_orderkey, o_custkey, total_qty, rk FROM (
        |  SELECT l_orderkey,
        |    ${dsumSql("l_quantity")} AS total_qty,
        |    ROW_NUMBER() OVER (ORDER BY ${dsumSql("l_quantity")} DESC, l_orderkey ASC) AS rk
        |  FROM lineitem GROUP BY l_orderkey)
        |JOIN orders ON l_orderkey = o_orderkey
        |WHERE rk <= 20 ORDER BY rk""".stripMargin,
    "q17_or_pred" ->
      s"""SELECT CAST(SUM($revenueSql) AS DOUBLE) AS rev, COUNT(*) AS n
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |WHERE (p_brand = 'Brand#11' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
         |   OR (p_brand = 'Brand#14' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
         |   OR (p_brand = 'Brand#17' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30)""".stripMargin,
    "q18_in_subq" ->
      """SELECT p_partkey, p_name, p_brand FROM part
        |WHERE p_partkey IN (SELECT l_partkey FROM lineitem WHERE l_quantity >= 49)
        |ORDER BY p_partkey""".stripMargin,
    "q19_rollup" ->
      s"""SELECT l_returnflag, l_linestatus,
        |  ${dsumSql("l_quantity")} AS sum_qty, COUNT(*) AS n
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,
    "q20_cube" ->
      s"""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
        |  ${dsumSql("o_totalprice")} AS total
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
      s"""SELECT CAST(FLOOR(epoch(date_trunc('hour', CAST(ts AS TIMESTAMP)))) AS BIGINT) AS hour_s,
        |  event_type, COUNT(*) AS n,
        |  ${dsumSql("value")} AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY hour_s, event_type""".stripMargin,
    "q24_sessionize" ->
      s"""WITH e AS (
        |  SELECT user_id, event_id,
        |    ${epochSecSql("ts")} AS es
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
