package graft.oracle

import graft.expressions.CdcChunkDigests
import graft.llm.LlmQueries.bm25Terms
import graft.oracle.Fragments._

/** DuckDB replays of the LLM-data registry
  * ([[graft.llm.LlmQueries.queries]]), served by
  * [[graft.SparkEntry.oracleSql]]. */
object LlmOracle {

  /** e16 oracle: the identical traversal as generated CTEs — seed =
    * min id, then 7× (argmax of the running LEAST-folded min squared
    * distance, ties to the smaller id), census by e3's (d asc, step
    * asc) ROW_NUMBER device over the 8 selected centers. */
  private def e16OracleSql: String = {
    val k = 8
    val steps = (1 until k).map { i =>
      val prev = s"m$i"
      val m = if (i == 1)
        s"""m1 AS (SELECT e.vec_id, e.v,
           |    list_inner_product(s.cv, s.cv)
           |      - 2 * list_inner_product(e.v, s.cv)
           |      + list_inner_product(e.v, e.v) AS dmin
           |  FROM emb e, s0 s)""".stripMargin
      else
        s"""m$i AS (SELECT m.vec_id, m.v, LEAST(m.dmin,
           |    list_inner_product(s.cv, s.cv)
           |      - 2 * list_inner_product(m.v, s.cv)
           |      + list_inner_product(m.v, m.v)) AS dmin
           |  FROM m${i - 1} m, s${i - 1} s)""".stripMargin
      s"""$m,
         |s$i AS (SELECT $i AS step, vec_id AS cid, v AS cv, dmin AS d2
         |  FROM $prev ORDER BY dmin DESC, vec_id LIMIT 1)""".stripMargin
    }.mkString(",\n")
    val union = (0 until k).map(i => s"SELECT * FROM s$i").mkString("\n  UNION ALL ")
    s"""WITH ${embCte("emb")},
       |s0 AS (SELECT 0 AS step, vec_id AS cid, v AS cv,
       |    CAST(NULL AS DOUBLE) AS d2
       |  FROM emb ORDER BY vec_id LIMIT 1),
       |$steps,
       |allsel AS ($union),
       |asg AS (SELECT e.vec_id, a.step,
       |    ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
       |      list_inner_product(a.cv, a.cv)
       |        - 2 * list_inner_product(e.v, a.cv) ASC, a.step ASC) AS rn
       |  FROM emb e CROSS JOIN allsel a),
       |cns AS (SELECT step, COUNT(*) AS n_assigned FROM asg
       |  WHERE rn = 1 GROUP BY step)
       |SELECT CAST(a.step AS BIGINT) AS step, a.cid AS center_id,
       |  ROUND(SQRT(CASE WHEN a.d2 < 0.0 THEN 0.0 ELSE a.d2 END), 6) + 0.0
       |    AS radius,
       |  CAST(COALESCE(c.n_assigned, 0) AS BIGINT) AS n_assigned
       |FROM allsel a LEFT JOIN cns c ON c.step = a.step
       |ORDER BY step""".stripMargin
  }

  /** Shared kNN CTE chain (emb0 → cent → b → assign → pair → directed
    * → rk → topk): the e6 directed top-5 replay — spherical md5-order
    * centroid pick, same-cell pairs, per-node rank — reused verbatim
    * by the e17 hubness oracle so the in-degree audit certifies
    * against the SAME proven neighbor lists. */
  private val knnTopkCtes: String =
    s"""${embCte("emb0")},
      |cent AS (SELECT vec_id AS cid, v AS cv,
      |    sqrt(list_inner_product(v, v)) AS nc FROM emb0
      |  ORDER BY $md5OrderSql LIMIT 16),
      |b AS (SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS nv
      |  FROM emb0),
      |$cosineAssignCte,
      |pair AS (SELECT a.vec_id AS id_a, bb.vec_id AS id_b,
      |    CASE WHEN a.nv * bb.nv = 0.0 THEN 0.0
      |         ELSE list_inner_product(a.v, bb.v) / (a.nv * bb.nv)
      |    END AS cos
      |  FROM assign a JOIN assign bb
      |    ON a.cell = bb.cell AND a.vec_id < bb.vec_id),
      |directed AS (SELECT id_a AS qid, id_b AS id, cos FROM pair
      |  UNION ALL SELECT id_b AS qid, id_a AS id, cos FROM pair),
      |rk AS (SELECT qid, id, cos,
      |    ROW_NUMBER() OVER (PARTITION BY qid
      |      ORDER BY cos DESC, id ASC) AS rk
      |  FROM directed),
      |topk AS (SELECT * FROM rk WHERE rk <= 5)""".stripMargin

  /** Beam-search CTE chain shared by the s7 and e21 oracles: scores a
    * candidate set against the query vectors, cuts the top-`n` beam on
    * unrounded cos (desc, id asc), expands out-edges through the
    * proven `topk` graph, and UNIONs (SQL UNION = the engine's
    * distinct). Emits s0..s<hops>, v0..v<hops>, b0.., n1.. — callers
    * append their own final cut. */
  private def annScoreCte(set: String, out: String): String =
    s"""$out AS (SELECT s.qid, s.id,
       |    CASE WHEN bb.nv * q.nqv = 0.0 THEN 0.0
       |         ELSE list_inner_product(bb.v, q.qv) / (bb.nv * q.nqv)
       |    END AS cos
       |  FROM $set s JOIN b bb ON s.id = bb.vec_id
       |    JOIN q ON s.qid = q.qid)"""
  private def annBeamChain(hops: Int, beam: Int): String = {
    val head = Seq(
      """q AS (SELECT vec_id AS qid, v AS qv, nv AS nqv FROM b
        |  WHERE vec_id < 5)""".stripMargin,
      "s0 AS (SELECT q.qid, c.cid AS id FROM q CROSS JOIN cent c)",
      annScoreCte("s0", "v0"))
    val steps = (1 to hops).flatMap { h =>
      Seq(
        s"""b${h - 1} AS (SELECT qid, id FROM (SELECT qid, id,
           |    ROW_NUMBER() OVER (PARTITION BY qid
           |      ORDER BY cos DESC, id ASC) AS rn FROM v${h - 1}) t
           |  WHERE rn <= $beam)""".stripMargin,
        s"""n$h AS (SELECT DISTINCT b${h - 1}.qid, t.id AS id FROM b${h - 1}
           |  JOIN topk t ON b${h - 1}.id = t.qid)""".stripMargin,
        s"s$h AS (SELECT qid, id FROM s${h - 1} UNION SELECT qid, id FROM n$h)",
        annScoreCte(s"s$h", s"v$h"))
    }
    (head ++ steps).mkString(",\n")
  }

  /** s7 oracle: the beam search UNROLLED — the proven e6 chain gives
    * the graph (`topk`) and entry points (`cent`); each hop is a
    * candidate-set UNION (SQL UNION = the engine's distinct), a
    * ROW_NUMBER beam cut on unrounded cos (desc, id asc — the TopKAgg
    * order), and an edge join; self is excluded only at the final
    * top-10, exactly the [[Similarity.graphTopK]] contract. */
  private def s7OracleSql: String =
    s"""WITH $knnTopkCtes,
       |${annBeamChain(hops = 2, beam = 4)},
       |fin AS (SELECT qid, id, cos,
       |    ROW_NUMBER() OVER (PARTITION BY qid
       |      ORDER BY cos DESC, id ASC) AS rk
       |  FROM v2 WHERE id <> qid)
       |SELECT qid, id, ROUND(cos, 6) AS cos, rk FROM fin
       |WHERE rk <= 10 ORDER BY qid, rk""".stripMargin

  /** e21 oracle: the SAME incremental beam chain taken out to 3 hops;
    * each horizon h gets its own top-10 cut of v<h> (self excluded)
    * and a count row against the e10-style brute CTE — one chain, four
    * operating points, exactly the shared-index engine sweep. */
  private def e21OracleSql: String = {
    val fins = Seq(0, 1, 2, 3).map { h =>
      s"""tk$h AS (SELECT qid, id FROM (SELECT qid, id,
         |    ROW_NUMBER() OVER (PARTITION BY qid
         |      ORDER BY cos DESC, id ASC) AS rk
         |  FROM v$h WHERE id <> qid) t WHERE rk <= 10),
         |r$h AS (SELECT $h AS hops,
         |    (SELECT COUNT(*) FROM brute) AS n_brute,
         |    (SELECT COUNT(*) FROM tk$h) AS n_graph,
         |    (SELECT COUNT(*) FROM brute JOIN tk$h USING (qid, id))
         |      AS n_overlap)""".stripMargin
    }.mkString(",\n")
    s"""WITH $knnTopkCtes,
       |${annBeamChain(hops = 3, beam = 4)},
       |brute AS (SELECT qid, id FROM (
       |    SELECT q.vec_id AS qid, a.vec_id AS id,
       |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
       |        CASE WHEN a.nv * q.nv = 0 THEN 0.0
       |             ELSE list_inner_product(a.v, q.v) / (a.nv * q.nv)
       |        END DESC, a.vec_id ASC) AS rk
       |    FROM b a CROSS JOIN (SELECT * FROM b WHERE vec_id < 5) q
       |    WHERE a.vec_id <> q.vec_id) t
       |  WHERE rk <= 10),
       |$fins
       |SELECT hops, n_brute, n_graph, n_overlap,
       |  CAST(n_overlap AS DOUBLE) / CAST(n_brute AS DOUBLE) AS recall
       |FROM (SELECT * FROM r0 UNION ALL SELECT * FROM r1
       |      UNION ALL SELECT * FROM r2 UNION ALL SELECT * FROM r3) u
       |ORDER BY hops""".stripMargin
  }

  /** x46 oracle: the identical hashed-classifier arithmetic — same
    * base-131/8-char polynomial (constants interpolated from
    * [[graft.operators.HashClassifier]] — one source of truth), same
    * mod-chain weights, exact BIGINT sums, one IEEE division. */
  private def x46OracleSql: String = {
    import graft.operators.HashClassifier._
    val poly = (0 until 8).map(k =>
      s"CAST(ascii(substr(rpad(f, 8, ' '), ${k + 1}, 1)) % 256 AS BIGINT)" +
        s" * ${CharPows(k)}")
      .mkString(" +\n      ")
    s"""WITH base AS (SELECT doc_id, $tokensSql AS toks
       |  FROM documents),
       |idx AS (SELECT doc_id, toks, len(toks) AS n,
       |    unnest(range(1, len(toks) + 1)) AS i FROM base),
       |feats AS (
       |  SELECT doc_id, toks[i] AS f FROM idx
       |  UNION ALL
       |  SELECT doc_id, toks[i] || '_' || toks[i + 1] AS f FROM idx
       |  WHERE i < n),
       |w AS (SELECT doc_id,
       |    ((((($poly)
       |      + CAST(len(f) AS BIGINT) * $LenMix) % $NumBuckets)
       |      * $WMul + $WAdd) % $WRange) - $WShift AS w
       |  FROM feats),
       |agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_feats,
       |    CAST(SUM(w) AS BIGINT) AS score_raw FROM w GROUP BY doc_id)
       |SELECT doc_id, n_feats, score_raw,
       |  CAST(score_raw AS DOUBLE) /
       |    (CAST(n_feats AS DOUBLE) * $WShift.0) AS score_norm,
       |  score_raw > 0 AS keep
       |FROM agg ORDER BY doc_id""".stripMargin
  }

  /** Shared BM25 lexical CTE chain (base → tf → st → lexall) — the x11
    * scorer replay, reused verbatim by the s6 hybrid oracle so the
    * fused ranking certifies against the SAME proven lexical scores. */
  private def bm25ScoredCtes: String = {
    val ts = bm25Terms
    val tfDefs = ts.zipWithIndex.map { case (t, i) =>
      s"CAST(len(list_filter(toks, t -> t = '$t')) AS INT) AS tf$i" }.mkString(",\n    ")
    val dfDefs = ts.indices.map(i =>
      s"SUM(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS df$i").mkString(", ")
    val terms = ts.indices.map { i =>
      s"""ln((CAST(n_docs AS DOUBLE) - CAST(df$i AS DOUBLE) + 0.5) /
         |      (CAST(df$i AS DOUBLE) + 0.5) + 1.0) *
         |    (CAST(tf$i AS DOUBLE) * (1.2 + 1.0)) /
         |    (CAST(tf$i AS DOUBLE) + 1.2 * (0.25 + 0.75 * dl / avgdl))""".stripMargin
    }.mkString(" +\n    ")
    val tfOut = ts.zipWithIndex.map { case (t, i) => s"tf$i AS tf_$t" }.mkString(", ")
    val anyHit = ts.indices.map(i => s"tf$i > 0").mkString(" OR ")
    s"""base AS (SELECT doc_id,
       |    $tokensSql AS toks FROM documents),
       |tf AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl,
       |    $tfDefs
       |  FROM base),
       |st AS (SELECT COUNT(*) AS n_docs,
       |    CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl, $dfDefs
       |  FROM tf),
       |lexall AS (SELECT doc_id, ROUND($terms, 6) AS score, $tfOut
       |  FROM tf, st WHERE $anyHit)""".stripMargin
  }

  /** x11 oracle: BM25 recomputed from scratch in SQL, generated from
    * the SAME term list. Arithmetic mirrors Retrieval.bm25 EXPRESSION
    * FOR EXPRESSION (unfolded "(1.2 + 1.0)", left-assoc sums, exact
    * Σdl/N avgdl) so every double op is the same IEEE sequence; ln is
    * the one library call, washed out by ROUND(...,6). */
  private def x11OracleSql: String =
    s"""WITH $bm25ScoredCtes
       |SELECT * FROM lexall ORDER BY doc_id""".stripMargin

  /** x41 oracle: the proven lexall CTE graded by its own term hits,
    * both top-20 cuts, 9-dp decimal term rounding, exact decimal
    * running sums, 10⁻⁹-grid BIGINT DCG/IDCG, one pinned int64→double
    * division — the identical pipeline as [[Retrieval.ndcgCurve]]. */
  private def x41OracleSql: String =
    s"""WITH $bm25ScoredCtes,
       |pool AS (SELECT doc_id AS id, score,
       |    CAST(LEAST(3, tf_sort) AS INT) AS rel
       |  FROM lexall),
       |rt AS (SELECT id, rel, rank FROM (
       |    SELECT id, rel,
       |      ROW_NUMBER() OVER (ORDER BY score DESC, id) AS rank
       |    FROM pool) WHERE rank <= 20),
       |it AS (SELECT id, rel, rank FROM (
       |    SELECT id, rel,
       |      ROW_NUMBER() OVER (ORDER BY rel DESC, id) AS rank
       |    FROM pool) WHERE rank <= 20),
       |rlp AS (SELECT rank, id, rel,
       |    CAST(ROUND((CASE WHEN rel = 0 THEN 0.0 WHEN rel = 1 THEN 1.0
       |        WHEN rel = 2 THEN 3.0 ELSE 7.0 END)
       |      / ln(CAST(rank AS DOUBLE) + 1.0), 9) AS DECIMAL(18,9)) AS lp
       |  FROM rt),
       |ilp AS (SELECT rank,
       |    CAST(ROUND((CASE WHEN rel = 0 THEN 0.0 WHEN rel = 1 THEN 1.0
       |        WHEN rel = 2 THEN 3.0 ELSE 7.0 END)
       |      / ln(CAST(rank AS DOUBLE) + 1.0), 9) AS DECIMAL(18,9)) AS lp
       |  FROM it),
       |rc AS (SELECT rank, id, rel, SUM(lp) OVER (ORDER BY rank
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS dcg
       |  FROM rlp),
       |ic AS (SELECT rank, SUM(lp) OVER (ORDER BY rank
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS dcg
       |  FROM ilp)
       |SELECT rc.rank, rc.id, rc.rel,
       |  CAST(rc.dcg * 1000000000 AS BIGINT) AS dcg_e9,
       |  CAST(ic.dcg * 1000000000 AS BIGINT) AS idcg_e9,
       |  ROUND(CASE WHEN CAST(ic.dcg * 1000000000 AS BIGINT) > 0 THEN
       |    CAST(CAST(rc.dcg * 1000000000 AS BIGINT) AS DOUBLE)
       |    / CAST(CAST(ic.dcg * 1000000000 AS BIGINT) AS DOUBLE) END, 6)
       |    + 0.0 AS ndcg
       |FROM rc JOIN ic ON rc.rank = ic.rank ORDER BY rc.rank""".stripMargin

  /** s6 oracle: the proven lexical (x11) and dense (s1) replays as
    * CTEs, cut to top-20 ranks, full-outer-joined and RRF-folded with
    * the identical pinned `lex-term + vec-term` addition. */
  private def s6OracleSql: String =
    s"""WITH $bm25ScoredCtes,
       |lex AS (SELECT id, rk FROM (
       |    SELECT doc_id AS id, ROW_NUMBER() OVER
       |      (ORDER BY score DESC, doc_id) AS rk FROM lexall)
       |  WHERE rk <= 20),
       |vec AS (SELECT id, rk FROM (
       |    SELECT a.vec_id AS id, ROW_NUMBER() OVER
       |      (ORDER BY $cosSql DESC, a.vec_id ASC) AS rk
       |    FROM embeddings a JOIN embeddings b
       |      ON b.vec_id = 0 AND a.vec_id <> 0)
       |  WHERE rk <= 20),
       |f AS (SELECT COALESCE(lex.id, vec.id) AS id,
       |    lex.rk AS rk_lex, vec.rk AS rk_vec,
       |    COALESCE(1.0 / (60 + lex.rk), 0.0)
       |      + COALESCE(1.0 / (60 + vec.rk), 0.0) AS rrf
       |  FROM lex FULL OUTER JOIN vec ON lex.id = vec.id)
       |SELECT rk, id, rk_lex, rk_vec, rrf FROM (
       |  SELECT f.*, ROW_NUMBER() OVER (ORDER BY rrf DESC, id) AS rk
       |  FROM f)
       |WHERE rk <= 10 ORDER BY rk""".stripMargin

  private val cosSql =
    "list_cosine_similarity(list_transform(a.embedding, x -> CAST(x AS DOUBLE)), " +
      "list_transform(b.embedding, x -> CAST(x AS DOUBLE)))"

  /** d3 oracle: recompute the SimHash bit-by-bit in SQL. Token hashes
    * are md5 prefixes (engine-reproducible); bit i of the hash
    * contributes ±1 to counter i and the sign of each counter forms the
    * hash — 60 generated terms (the top 4 bits of a 60-bit hash are
    * structurally zero on both engines). Pigeonhole chunk join +
    * bit_count(xor) mirrors simhashPairs exactly. */
  private def d3OracleSql: String = {
    val bitTerms = (0 until 60).map { i =>
      s"(CASE WHEN list_sum(list_transform(th, tok -> CASE WHEN (tok >> $i) & 1 = 1 THEN 1 ELSE -1 END)) > 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString(" + ")
    s"""WITH all_docs AS (
       |$perturbedCopiesSql),
       |toks AS (SELECT doc_id,
       |    list_transform($tokensSql,
       |      w -> CAST('0x' || substr(md5(w), 1, 15) AS BIGINT)) AS th
       |  FROM all_docs),
       |s AS (SELECT doc_id, $bitTerms AS sh FROM toks),
       |k AS (SELECT doc_id, sh, chunk, (sh >> (chunk * 16)) & 65535 AS key
       |      FROM (SELECT doc_id, sh, unnest([0, 1, 2, 3]) AS chunk FROM s)),
       |p AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       |    CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming
       |  FROM k a JOIN k b ON a.chunk = b.chunk AND a.key = b.key
       |    AND a.doc_id < b.doc_id)
       |SELECT id_a, id_b, hamming FROM p WHERE hamming <= 3
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** s2 oracle: DuckDB replays the ENTIRE sign-LSH procedure — the 8
    * seeded hyperplanes are embedded as literal arrays (Double.toString
    * round-trips to the same binary double), buckets recompute as sign
    * bits of literal-plane dot products, the 37 multi-probe XOR masks
    * enumerate inline, and the top-k window ranks by UNROUNDED cosine
    * exactly like TopKAgg. A hash-match is therefore a bit-level proof
    * of the whole bucketing + probing + scoring pipeline. */
  private def s1OracleSql: String =
    s"""SELECT qid, id, cos, rk FROM (
       |  SELECT b.vec_id AS qid, a.vec_id AS id, ROUND($cosSql, 6) AS cos,
       |    ROW_NUMBER() OVER (PARTITION BY b.vec_id
       |      ORDER BY $cosSql DESC, a.vec_id ASC) AS rk
       |  FROM embeddings a JOIN embeddings b
       |    ON b.vec_id < 5 AND a.vec_id != b.vec_id)
       |WHERE rk <= 10 ORDER BY qid, rk""".stripMargin

  private def s2OracleSql: String = {
    val bits = 8
    val planes = graft.operators.VectorOps.hyperplanes(bits, 64)
    def arr(p: Array[Double]) = p.mkString("[", ", ", "]")
    val bucketExpr = planes.zipWithIndex.map { case (p, i) =>
      s"(CASE WHEN list_inner_product(v, ${arr(p)}) >= 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString(" + ")
    val masks = (0L +: ((0 until bits).map(i => 1L << i) ++
      (for (i <- 0 until bits; j <- (i + 1) until bits)
        yield (1L << i) | (1L << j)))).mkString(", ")
    s"""WITH ${embCte("emb")},
       |b AS (SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS nv,
       |    $bucketExpr AS bucket FROM emb),
       |probes AS (SELECT vec_id AS qid, v AS qv, nv AS nqv,
       |    xor(bucket, f.m) AS bucket
       |  FROM b CROSS JOIN (SELECT unnest([$masks]) AS m) f
       |  WHERE vec_id < 5),
       |scored AS (SELECT p.qid, c.vec_id AS id,
       |    CASE WHEN c.nv * p.nqv = 0 THEN 0.0
       |         ELSE list_inner_product(c.v, p.qv) / (c.nv * p.nqv) END AS cos
       |  FROM b c JOIN probes p ON c.bucket = p.bucket AND c.vec_id <> p.qid)
       |${top10Sql("scored")}""".stripMargin
  }

  /** The d4 character-3-gram sets, shared with d15: `b`(id, source,
    * lb, g) per document, blocked by (source, n_chars div 100). */
  private val charGramBlocks: String =
    s"""b AS (
       |  SELECT doc_id AS id, source, CAST(floor(n_chars / 100.0) AS INT) AS lb,
       |    $charGramsSql AS g
       |  FROM (SELECT doc_id, source, n_chars,
       |          $normSql AS nt
       |        FROM documents))""".stripMargin

  /** `name`(id_a, id_b, common, sz) over [[charGramBlocks]]: same-block
    * pairs sharing a gram (`e` holds one row per gram), |A∩B| and
    * |A|+|B| as DOUBLE. */
  private def charGramPairsCte(name: String): String =
    s"""e AS (SELECT id, source, lb, len(g) AS sz1, unnest(g) AS gram FROM b),
       |$name AS (
       |  SELECT a.id AS id_a, bb.id AS id_b,
       |    CAST(COUNT(*) AS DOUBLE) AS common,
       |    CAST(ANY_VALUE(a.sz1) + ANY_VALUE(bb.sz1) AS DOUBLE) AS sz
       |  FROM e a JOIN e bb ON a.gram = bb.gram
       |    AND a.source = bb.source AND a.lb = bb.lb AND a.id < bb.id
       |  GROUP BY a.id, bb.id)""".stripMargin

  /** The x13 unigram model, shared with x42: `sc`(doc_id, lp) = each
    * token's log-probability under the 32-token vocabulary (0.5 count
    * floor for the rest) as a 9-place DECIMAL, so sums are order-free. */
  private val unigramLpCtes: String =
    s"""base AS (SELECT doc_id, $tokensSql AS toks
       |  FROM documents),
       |tok AS (SELECT doc_id, unnest(toks) AS tok FROM base),
       |counts AS (SELECT tok, COUNT(*) AS cnt FROM tok GROUP BY tok),
       |st AS (SELECT SUM(cnt) AS total FROM counts),
       |vocab AS (SELECT tok, cnt FROM counts ORDER BY cnt DESC, tok LIMIT 32),
       |sc AS (SELECT t.doc_id,
       |    CAST(ROUND(ln(COALESCE(CAST(v.cnt AS DOUBLE), 0.5) / st.total), 9)
       |      AS DECIMAL(18,9)) AS lp
       |  FROM tok t LEFT JOIN vocab v ON t.tok = v.tok, st)""".stripMargin

  /** The sampled-centroid IVF index shared by the s3 and e10 oracles:
    * `cent` = the 16 md5-first vectors, `b` = every vector with its
    * norm, `assign` = each vector's euclidean-nearest cell. */
  private val ivfIndexCtes: String =
    s"""${embCte("emb")},
       |cent AS (SELECT vec_id AS cid, v AS cv FROM emb
       |  ORDER BY $md5OrderSql LIMIT 16),
       |b AS (SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS nv FROM emb),
       |$euclidAssignCte""".stripMargin

  /** s3 oracle: the sampled-centroid IVF index is pure SQL — centroids
    * are the 16 corpus vectors with smallest md5(id), cell assignment
    * is the argmin of ip(c,c) - 2·ip(v,c) (ties to the smaller cid,
    * mirroring the struct-ordering argmin on the Spark side), probes
    * are each query's 4 nearest centroids. DuckDB rebuilds the index
    * from the raw table and must land on the identical top-k. */
  private def s3OracleSql: String = {
    s"""WITH $ivfIndexCtes,
       |probes AS (SELECT vec_id AS qid, cid AS cell FROM (
       |    SELECT b.vec_id, c.cid,
       |      ROW_NUMBER() OVER (PARTITION BY b.vec_id ORDER BY $euclidOrderSql) AS rn
       |    FROM b CROSS JOIN cent c WHERE b.vec_id < 5) t WHERE rn <= 4),
       |scored AS (SELECT p.qid, a.vec_id AS id,
       |    CASE WHEN a.nv * q.nv = 0 THEN 0.0
       |         ELSE list_inner_product(a.v, q.v) / (a.nv * q.nv) END AS cos
       |  FROM assign a JOIN probes p ON a.cell = p.cell AND a.vec_id <> p.qid
       |  JOIN b q ON q.vec_id = p.qid)
       |${top10Sql("scored")}""".stripMargin
  }

  /** e10 oracle: s3's full index replay with the probe cut left at
    * rn ≤ 8, then one scored/top-k/count branch per nProbe sweep —
    * brute ground truth from the s1 shape, recall the same single
    * IEEE division. */
  private def e10OracleSql: String = {
    val branches = Seq(1, 2, 4, 8).map { np =>
      s"""sc$np AS (SELECT p.qid, a.vec_id AS id,
         |    CASE WHEN a.nv * q.nv = 0 THEN 0.0
         |         ELSE list_inner_product(a.v, q.v) / (a.nv * q.nv) END AS cos
         |  FROM assign a JOIN pr p ON a.cell = p.cell AND a.vec_id <> p.qid
         |    AND p.rn <= $np
         |  JOIN b q ON q.vec_id = p.qid),
         |tk$np AS (SELECT qid, id FROM (
         |    SELECT qid, id,
         |      ROW_NUMBER() OVER (PARTITION BY qid
         |        ORDER BY cos DESC, id ASC) AS rk FROM sc$np) t
         |  WHERE rk <= 10),
         |r$np AS (SELECT $np AS nprobe,
         |    (SELECT COUNT(*) FROM brute) AS n_brute,
         |    (SELECT COUNT(*) FROM tk$np) AS n_ivf,
         |    (SELECT COUNT(*) FROM brute JOIN tk$np USING (qid, id))
         |      AS n_overlap)""".stripMargin
    }.mkString(",\n")
    s"""WITH $ivfIndexCtes,
       |pr AS (SELECT vec_id AS qid, cid AS cell, rn FROM (
       |    SELECT b.vec_id, c.cid,
       |      ROW_NUMBER() OVER (PARTITION BY b.vec_id ORDER BY $euclidOrderSql) AS rn
       |    FROM b CROSS JOIN cent c WHERE b.vec_id < 5) t WHERE rn <= 8),
       |brute AS (SELECT qid, id FROM (
       |    SELECT q.vec_id AS qid, a.vec_id AS id,
       |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
       |        CASE WHEN a.nv * q.nv = 0 THEN 0.0
       |             ELSE list_inner_product(a.v, q.v) / (a.nv * q.nv) END DESC,
       |        a.vec_id ASC) AS rk
       |    FROM b a CROSS JOIN (SELECT * FROM b WHERE vec_id < 5) q
       |    WHERE a.vec_id <> q.vec_id) t
       |  WHERE rk <= 10),
       |$branches
       |SELECT nprobe, n_brute, n_ivf, n_overlap,
       |  CAST(n_overlap AS DOUBLE) / CAST(n_brute AS DOUBLE) AS recall
       |FROM (SELECT * FROM r1 UNION ALL SELECT * FROM r2
       |      UNION ALL SELECT * FROM r4 UNION ALL SELECT * FROM r8) u
       |ORDER BY nprobe""".stripMargin
  }

  /** s5 oracle: replay the ENTIRE PQ index in SQL — md5-order codeword
    * sample (ROW_NUMBER-1 = positional code, matching the Spark array
    * index), per-subspace argmin encoding, reconstruction norm and ADC
    * dot as EXPLICIT left-associated 8-term sums (matching the Spark
    * reduce(_ + _) summation order bit-for-bit), approx top-40
    * candidates, exact-cosine re-rank to top-10. */
  private def s5OracleSql: String = {
    def chain(f: Int => String): String =
      (0 until 8).map(f).mkString("(", " + ", ")")
    val recChain = chain(j => s"MAX(CASE WHEN j = $j THEN ipcc END)")
    val adcChain = chain(j => s"MAX(CASE WHEN j = $j THEN ipq END)")
    s"""WITH ${embCte("emb")},
       |cent AS (SELECT ROW_NUMBER() OVER (
       |      ORDER BY $md5OrderSql) - 1 AS c, v AS cv
       |  FROM emb ORDER BY $md5OrderSql LIMIT 16),
       |b AS (SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS nv FROM emb),
       |js AS (SELECT CAST(j AS INT) AS j FROM range(8) t(j)),
       |enc AS (SELECT vec_id, j, c FROM (
       |    SELECT b.vec_id, js.j, ct.c,
       |      ROW_NUMBER() OVER (PARTITION BY b.vec_id, js.j ORDER BY
       |        list_inner_product(ct.cv[js.j*8+1:js.j*8+8],
       |                           ct.cv[js.j*8+1:js.j*8+8])
       |        - 2 * list_inner_product(b.v[js.j*8+1:js.j*8+8],
       |                                 ct.cv[js.j*8+1:js.j*8+8]) ASC,
       |        ct.c ASC) AS rn
       |    FROM b CROSS JOIN js CROSS JOIN cent ct) t WHERE rn = 1),
       |jq AS (SELECT e.vec_id, e.j,
       |    ct.cv[e.j*8+1:e.j*8+8] AS cw
       |  FROM enc e JOIN cent ct ON ct.c = e.c),
       |rec AS (SELECT vec_id, $recChain AS rn2
       |  FROM (SELECT vec_id, j, list_inner_product(cw, cw) AS ipcc FROM jq)
       |  GROUP BY vec_id),
       |adc AS (SELECT qid, id, $adcChain AS dot FROM (
       |    SELECT q.vec_id AS qid, jq.vec_id AS id, jq.j,
       |      list_inner_product(q.v[jq.j*8+1:jq.j*8+8], jq.cw) AS ipq
       |    FROM jq CROSS JOIN (SELECT vec_id, v FROM b WHERE vec_id < 5) q
       |    WHERE jq.vec_id <> q.vec_id)
       |  GROUP BY qid, id),
       |appr AS (SELECT a.qid, a.id,
       |    CASE WHEN sqrt(r.rn2) * qn.nv = 0 THEN 0.0
       |         ELSE a.dot / (sqrt(r.rn2) * qn.nv) END AS acos
       |  FROM adc a JOIN rec r ON r.vec_id = a.id
       |  JOIN b qn ON qn.vec_id = a.qid),
       |cand AS (SELECT qid, id FROM (
       |    SELECT qid, id,
       |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY acos DESC, id ASC) AS rn
       |    FROM appr) t WHERE rn <= 40),
       |ex AS (SELECT c.qid, c.id,
       |    CASE WHEN x.nv * qq.nv = 0 THEN 0.0
       |         ELSE list_inner_product(x.v, qq.v) / (x.nv * qq.nv) END AS cos
       |  FROM cand c JOIN b x ON x.vec_id = c.id JOIN b qq ON qq.vec_id = c.qid)
       |${top10Sql("ex")}""".stripMargin
  }

  /** e11 oracle: one s1-shape brute-force CTE per prefix dimension,
    * cosine over the SAME list prefix both engines slice. */
  private def e11OracleSql: String = {
    val dims = Seq(8, 16, 32, 64)
    def cos(d: Int) =
      s"list_cosine_similarity(a.v[1:$d], b.v[1:$d])"
    val cuts = dims.map { d =>
      s"""cut$d AS (SELECT qid, id FROM (
         |  SELECT b.vec_id AS qid, a.vec_id AS id,
         |    ROW_NUMBER() OVER (PARTITION BY b.vec_id
         |      ORDER BY ${cos(d)} DESC, a.vec_id ASC) AS rk
         |  FROM emb a JOIN emb b ON b.vec_id < 5 AND a.vec_id <> b.vec_id)
         |  WHERE rk <= 10),
         |r$d AS (SELECT $d AS dims,
         |  (SELECT COUNT(*) FROM cut64x) AS n_full,
         |  (SELECT COUNT(*) FROM cut64x JOIN cut$d USING (qid, id)) AS n_overlap)""".stripMargin
    }.mkString(",\n")
    val unions = dims.map(d => s"SELECT * FROM r$d").mkString(" UNION ALL ")
    s"""WITH ${embCte("emb")},
       |cut64x AS (SELECT qid, id FROM (
       |  SELECT b.vec_id AS qid, a.vec_id AS id,
       |    ROW_NUMBER() OVER (PARTITION BY b.vec_id
       |      ORDER BY ${cos(64)} DESC, a.vec_id ASC) AS rk
       |  FROM emb a JOIN emb b ON b.vec_id < 5 AND a.vec_id <> b.vec_id)
       |  WHERE rk <= 10),
       |$cuts
       |SELECT dims, n_full, n_overlap,
       |  CAST(n_overlap AS DOUBLE) / CAST(n_full AS DOUBLE) AS recall
       |FROM ($unions) ORDER BY dims""".stripMargin
  }

  /** d16 oracle: per-config CTEs generated from the same (bands, rows)
    * list the Spark side sweeps. */
  private def d16OracleSql: String = {
    val configs = Seq((4, 4), (8, 2), (16, 1))
    val perConfig = configs.map { case (b, r) =>
      s"""ex$b AS (SELECT id, i AS band,
         |    array_to_string(sig[CAST(i*$r+1 AS INT):CAST(i*$r+$r AS INT)], ',') AS key
         |  FROM sg, (SELECT unnest(range(0, $b)) AS i) t),
         |cd$b AS (SELECT DISTINCT x.id AS id_a, y.id AS id_b
         |  FROM ex$b x JOIN ex$b y
         |  ON x.band = y.band AND x.key = y.key AND x.id < y.id),
         |r$b AS (SELECT $b AS bands, $r AS rows_per_band,
         |  (SELECT COUNT(*) FROM tr) AS n_true,
         |  (SELECT COUNT(*) FROM cd$b) AS n_cand,
         |  (SELECT COUNT(*) FROM tr JOIN cd$b USING (id_a, id_b)) AS n_caught)""".stripMargin
    }.mkString(",\n")
    val unions = configs.map { case (b, _) => s"SELECT * FROM r$b" }
      .mkString(" UNION ALL ")
    s"""WITH samp AS (
       |  SELECT doc_id AS id, text FROM documents
       |  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id LIMIT 300),
       |all_docs AS (SELECT id, text FROM samp
       |  UNION ALL SELECT id + 1000000, text || ' zz qq' FROM samp),
       |b AS (SELECT id,
       |    ${shinglesSql(2)} AS sh
       |  FROM (SELECT id, $normSql AS nt
       |        FROM all_docs)),
       |sg AS (SELECT id, list_transform(range(0, 16), k ->
       |    list_min(list_transform(sh,
       |      s -> CAST('0x' || substr(md5(CAST(k AS VARCHAR) || '|' || s), 1, 15) AS BIGINT)))) AS sig
       |  FROM b),
       |hv AS (SELECT id, list_sort(list_distinct(list_transform(sh,
       |    s -> CAST('0x' || substr(md5('g|' || s), 1, 15) AS BIGINT)))) AS hv
       |  FROM b),
       |tr AS (SELECT a.id AS id_a, bb.id AS id_b
       |  FROM hv a JOIN hv bb ON a.id < bb.id
       |    AND len(a.hv) * 2 >= len(bb.hv) AND len(bb.hv) * 2 >= len(a.hv)
       |    AND CAST(len(list_intersect(a.hv, bb.hv)) AS DOUBLE)
       |      / (len(a.hv) + len(bb.hv) - len(list_intersect(a.hv, bb.hv))) >= 0.5),
       |$perConfig
       |SELECT bands, rows_per_band, n_true, n_cand, n_caught,
       |  CAST(n_caught AS DOUBLE) / NULLIF(CAST(n_true AS DOUBLE), 0.0) AS recall,
       |  CAST(n_caught AS DOUBLE) / NULLIF(CAST(n_cand AS DOUBLE), 0.0) AS cand_precision
       |FROM ($unions) ORDER BY bands""".stripMargin
  }

  /** Shared d2/d6/d19 pair CTE chain: exact pairwise Jaccard over
    * distinct 3-gram shingle STRINGS. Pair enumeration is an inverted
    * gram index (unnest → equi-join on gram → COUNT(*) = |A∩B| exactly,
    * since `sh` is distinct) rather than an all-pairs self-join:
    * lossless at any threshold > 0 because J(A,B) > 0 requires at
    * least one shared gram, so every qualifying pair appears in the
    * join. Cost is Σ_g df(g)² (~12M rows at sf0.1, seconds in DuckDB)
    * vs the quadratic all-pairs form that exceeded a 40-minute budget
    * at sf0.1 (10k docs). Bit-identical output verified against the
    * all-pairs form at sf0.01/sf0.001. */
  private val d2PairCtes: String =
    s"""WITH RECURSIVE all_docs AS (
      |$perturbedCopiesSql),
      |${shingleCte("b", 2, "all_docs")},
      |$jaccardPairCtes""".stripMargin

  /** Shared d20/d21 span CTE chain: the Lee et al. ExactSubstr ground
    * truth on gram STRINGS — positional 13-grams over the planted d8
    * corpus, equality join into occurrence pairs, diagonal islands via
    * pos − row_number. Ends at `isl` (one row per matched window);
    * `tk` (doc_id, ts) stays visible for d21's removal replay. */
  private val d20SpanCtes: String =
    s"""WITH corpus AS (
      |$plantedDocsSql),
      |tk AS (SELECT doc_id,
      |    $tokensSql AS ts
      |  FROM corpus),
      |$gramPairCtes,
      |$islandCte""".stripMargin

  /** d21/d23 removal replay: d20's span chain + later (b-side)
    * occurrences cut, per-doc interval UNION via the same
    * max-over-preceding island device the Spark side's Intervals.merge
    * uses, kept tokens re-assembled in position order and compared
    * VERBATIM. d23 (the pair-free OWNED form) shares this string
    * byte-for-byte: its contract is exactly "identical rewrite". */
  private val d21RemovalSql: String =
    s"""$d20SpanCtes,
      |spans AS (SELECT id_b AS id, MIN(pos_b) AS s,
      |    MIN(pos_b) + COUNT(*) + 12 AS e
      |  FROM isl GROUP BY id_a, id_b, diag, island),
      |o1 AS (SELECT id, s, e,
      |    MAX(e) OVER (PARTITION BY id ORDER BY s, e
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pe
      |  FROM spans),
      |o2 AS (SELECT id, s, e,
      |    CASE WHEN pe IS NULL OR s > pe THEN 1 ELSE 0 END AS op FROM o1),
      |o3 AS (SELECT id, s, e,
      |    SUM(op) OVER (PARTITION BY id ORDER BY s, e
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
      |  FROM o2),
      |miv AS (SELECT id, MIN(s) AS ms, MAX(e) AS me FROM o3
      |  GROUP BY id, grp),
      |ivl AS (SELECT id, list(struct_pack(s := ms, e := me)) AS ivs
      |  FROM miv GROUP BY id),
      |outt AS (SELECT b.doc_id AS id, len(b.ts) AS n_tokens,
      |    CASE WHEN ivl.ivs IS NULL THEN b.ts
      |    ELSE list_filter(list_transform(generate_series(1, len(b.ts)),
      |      i -> CASE WHEN len(list_filter(ivl.ivs,
      |          iv -> i - 1 >= iv.s AND i - 1 < iv.e)) = 0
      |        THEN b.ts[CAST(i AS INT)] ELSE NULL END), x -> x IS NOT NULL)
      |    END AS kept
      |  FROM tk b LEFT JOIN ivl ON b.doc_id = ivl.id)
      |SELECT id AS doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
      |  CAST(len(kept) AS BIGINT) AS n_kept,
      |  CAST(n_tokens - len(kept) AS BIGINT) AS n_removed,
      |  COALESCE(array_to_string(kept, ' '), '') AS kept_text
      |FROM outt ORDER BY doc_id""".stripMargin

  private val d23RemovalSql: String = d21RemovalSql

  /** d22 CTE chain: d20's gram/island device over the GROUPED corpus —
    * identity groups on the normalized text (rep = min id), grams and
    * islands over representatives only; `sz`/`tk` feed the
    * multiplicity arithmetic. Corpus = d20's + a third copy of
    * docs < 10. */
  private val d22GroupedCtes: String =
    s"""WITH corpus AS (
      |$plantedDocsSql
      |  UNION ALL SELECT doc_id + 3000000, text FROM documents
      |  WHERE doc_id < 10),
      |nrm AS (SELECT doc_id,
      |    $normSql AS nt
      |  FROM corpus),
      |grp AS (SELECT nt, MIN(doc_id) AS rep, COUNT(*) AS gsz
      |  FROM nrm GROUP BY nt),
      |sz AS (SELECT rep, gsz FROM grp),
      |tk AS (SELECT rep AS doc_id, gsz, string_split(nt, ' ') AS ts
      |  FROM grp),
      |$gramPairCtes,
      |$islandCte,
      |spans AS (SELECT id_a, id_b, MIN(pos_a) AS start_a,
      |    MIN(pos_b) AS start_b, COUNT(*) + 12 AS span_tokens
      |  FROM isl GROUP BY id_a, id_b, diag, island)""".stripMargin

  /** Shared x20/x23 CTE prefix: the full nMerges-round BPE fit as
    * generated CTEs ending in the tokenized vocabulary `v$n`. */
  private def bpeVocabCtes(n: Int): String = {
    val iters = (1 to n).map { k =>
      s"""e$k AS (SELECT cnt, ws, unnest(generate_series(1, len(ws) - 1)) AS i
         |  FROM (SELECT cnt, list_filter(string_split(sym, chr(1)),
         |          x -> x <> '') AS ws
         |        FROM v${k - 1}) t
         |  WHERE len(ws) >= 2),
         |p$k AS (SELECT ws[i] AS l, ws[i + 1] AS r, SUM(cnt) AS c
         |  FROM e$k GROUP BY 1, 2),
         |m$k AS (SELECT l, r FROM p$k ORDER BY c DESC, l, r LIMIT 1),
         |v$k AS (SELECT word, cnt,
         |    replace(sym, chr(1) || m.l || chr(1) || m.r || chr(1),
         |      chr(1) || m.l || m.r || chr(1)) AS sym
         |  FROM v${k - 1}, m$k m)""".stripMargin
    }.mkString(",\n")
    s"""WITH wc AS (SELECT w AS word, COUNT(*) AS cnt
       |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
       |  WHERE w <> '' GROUP BY w),
       |v0 AS (SELECT word, cnt,
       |    chr(1) || array_to_string(list_transform(
       |      generate_series(1, length(word)),
       |      i -> substr(word, CAST(i AS INT), 1)), chr(1)) || chr(1) AS sym
       |  FROM wc),
       |$iters""".stripMargin
  }

  /** x20 oracle: the whole 5-round BPE fit replayed — word counts,
    * chr(1)-framed symbol strings, weighted adjacent-pair counts,
    * (c DESC, l, r) argmax, leftmost-nonoverlapping replace. */
  private def x20OracleSql: String = {
    val n = 5
    s"""${bpeVocabCtes(n)}
       |SELECT word, cnt, CAST(len(ws) AS INT) AS n_tokens,
       |  array_to_string(ws, ' ') AS tokens
       |FROM (SELECT word, cnt,
       |      list_filter(string_split(sym, chr(1)), x -> x <> '') AS ws
       |      FROM v$n)
       |ORDER BY word""".stripMargin
  }

  /** Shared BPE per-doc encode CTE chain (vocab fit replay → per-word
    * token counts → per-doc sums) — x23's proven replay, reused by the
    * x36 fertility rollup so it certifies against the SAME chain. */
  private def bpeEncodeCtes: String = {
    val n = 5
    s"""${bpeVocabCtes(n)},
       |enc AS (SELECT word,
       |    CAST(len(list_filter(string_split(sym, chr(1)), x -> x <> ''))
       |      AS BIGINT) AS n_tokens
       |  FROM v$n),
       |w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
       |  FROM documents),
       |perdoc AS (SELECT doc_id, COUNT(*) AS n_words,
       |    SUM(n_tokens) AS n_bpe_tokens
       |  FROM w JOIN enc USING (word) WHERE word <> '' GROUP BY 1)""".stripMargin
  }

  /** x23 oracle: the x20 fit replay extended by the encode join —
    * per-word token counts from v5, corpus words joined back, integer
    * sums (order-free, exact). */
  private def x23OracleSql: String =
    s"""$bpeEncodeCtes
       |SELECT doc_id, n_words, CAST(n_bpe_tokens AS BIGINT) AS n_bpe_tokens
       |FROM perdoc
       |ORDER BY doc_id""".stripMargin

  /** x36 oracle: x23's per-doc chain rolled up per source with the
    * two fertility divisions. */
  private def x36OracleSql: String =
    s"""$bpeEncodeCtes
       |SELECT d.source, COUNT(*) AS n_docs,
       |  CAST(SUM(p.n_words) AS BIGINT) AS n_words,
       |  CAST(SUM(p.n_bpe_tokens) AS BIGINT) AS n_tokens,
       |  CAST(SUM(d.n_chars) AS BIGINT) AS n_chars,
       |  ROUND(CAST(SUM(p.n_bpe_tokens) AS BIGINT) /
       |    CAST(SUM(p.n_words) AS BIGINT), 6) AS fertility,
       |  ROUND(CAST(SUM(d.n_chars) AS BIGINT) /
       |    CAST(SUM(p.n_bpe_tokens) AS BIGINT), 6) AS chars_per_token
       |FROM perdoc p JOIN documents d USING (doc_id)
       |GROUP BY d.source ORDER BY d.source""".stripMargin

  /** Shared PCA power-iteration replay CTE chain (ve → mo → cv →
    * a-chain → l1 → cv2 → b-chain → l2) — e5's proven fit replay,
    * reused verbatim by e14 so the spectrum certifies against the SAME
    * chain that e5's hash match proves. */
  private def pcaChainCtes: String = {
    val d = 16; val iters = 30
    val prs = for { i <- 0 until d; j <- i until d } yield (i, j)
    val qdefs = (0 until d).map(i =>
      s"CAST(FLOOR(CAST(embedding[${i + 1}] AS DOUBLE) * 1000000.0) AS BIGINT) AS q$i")
    val sums = (0 until d).map(i => s"CAST(SUM(q$i) AS DOUBLE) AS sq$i") ++
      prs.map { case (i, j) => s"CAST(SUM(q$i * q$j) AS DOUBLE) AS sqq_${i}_$j" }
    def cexpr(i: Int, j: Int) = {
      val (a, b) = (math.min(i, j), math.max(i, j))
      s"(sqq_${a}_$b - sq$i * sq$j / nd) / nd"
    }
    val rowdefs = (0 until d).map(i =>
      s"[${(0 until d).map(j => cexpr(i, j)).mkString(", ")}] AS r$i")
    def chain(pfx: String, mat: String, rn: Int => String): String =
      (1 to iters).map { k =>
        val prev = if (k == 1) s"${pfx}0" else s"$pfx${k - 1}"
        s"${pfx}w$k AS (SELECT [${(0 until d)
          .map(i => s"list_inner_product($mat.${rn(i)}, p.v)")
          .mkString(", ")}] AS w FROM $mat, $prev p),\n" +
          s"$pfx$k AS (SELECT list_transform(w, x -> x / sqrt(list_inner_product(w, w))) AS v FROM ${pfx}w$k)"
      }.mkString(",\n")
    val v0 = "[" + Seq.fill(d)("0.25").mkString(", ") + "]::DOUBLE[]"
    val defl = (0 until d).map(i =>
      s"[${(0 until d).map(j =>
        s"cv.r$i[${j + 1}] - l1.lam1 * l1.v1[${i + 1}] * l1.v1[${j + 1}]")
        .mkString(", ")}] AS s$i")
    s"""WITH ve AS (SELECT vec_id, label,
       |    list_transform(embedding[1:$d], x -> CAST(x AS DOUBLE)) AS xv,
       |    ${qdefs.mkString(",\n    ")}
       |  FROM embeddings),
       |mo AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nd,
       |    ${sums.mkString(",\n    ")}
       |  FROM ve),
       |cv AS MATERIALIZED (SELECT ${rowdefs.mkString(",\n    ")} FROM mo),
       |a0 AS (SELECT $v0 AS v),
       |${chain("a", "cv", i => s"r$i")},
       |l1a AS (SELECT p.v AS v,
       |    [${(0 until d).map(i => s"list_inner_product(cv.r$i, p.v)").mkString(", ")}] AS cvv
       |  FROM cv, a$iters p),
       |l1 AS (SELECT v AS v1, list_inner_product(v, cvv) AS lam1 FROM l1a),
       |cv2 AS MATERIALIZED (SELECT ${defl.mkString(",\n    ")} FROM cv, l1),
       |b0 AS (SELECT $v0 AS v),
       |${chain("b", "cv2", i => s"s$i")},
       |l2a AS (SELECT p.v AS v,
       |    [${(0 until d).map(i => s"list_inner_product(cv2.s$i, p.v)").mkString(", ")}] AS cvv
       |  FROM cv2, b$iters p),
       |l2 AS (SELECT v AS v2, list_inner_product(v, cvv) AS lam2 FROM l2a)""".stripMargin
  }

  /** e5 oracle: full replay. Exact HUGEINT moment sums on the 1e-6
    * grid → identical covariance doubles; then the same fixed-order
    * power iteration (list_inner_product ≡ the strict left-to-right
    * driver loops), 30 iterations per component, one deflation. */
  private def e5OracleSql: String =
    s"""$pcaChainCtes
       |SELECT e.vec_id, e.label,
       |  list_inner_product(e.xv, l1.v1) AS p1,
       |  list_inner_product(e.xv, l2.v2) AS p2,
       |  l1.lam1 AS lam1, l2.lam2 AS lam2
       |FROM ve e, l1, l2 ORDER BY e.vec_id""".stripMargin

  /** e14 oracle: trace read off the SAME cv rows (left-associated
    * diagonal sum in index order — the engine's while-loop fold), then
    * the three spectrum rows with pinned division sequences. */
  private def e14OracleSql: String = {
    val d = 16
    val diag = (0 until d).map(i => s"cv.r$i[${i + 1}]").mkString(" + ")
    s"""$pcaChainCtes,
       |tr AS (SELECT $diag AS trace FROM cv)
       |SELECT 'pc1' AS component, l1.lam1 AS lam,
       |  l1.lam1 / tr.trace AS share, l1.lam1 / tr.trace AS cum_share
       |FROM l1, tr
       |UNION ALL
       |SELECT 'pc2', l2.lam2, l2.lam2 / tr.trace,
       |  (l1.lam1 + l2.lam2) / tr.trace FROM l1, l2, tr
       |UNION ALL
       |SELECT 'residual', tr.trace - l1.lam1 - l2.lam2,
       |  (tr.trace - l1.lam1 - l2.lam2) / tr.trace, CAST(1.0 AS DOUBLE)
       |FROM l1, l2, tr
       |ORDER BY component""".stripMargin
  }

  /** e2 oracle: the 8 seeded planes embedded as literal arrays
    * (Double.toString round-trips), each output dim one
    * list_inner_product — bit-identical to ArrayDotProduct. */
  private def e2OracleSql: String = {
    val planes = graft.operators.VectorOps.hyperplanes(8, 64, seed = 7L)
    val scale = math.sqrt(64.0)
    // Two devices make this bit-exact under a FULL-precision compare
    // (the .10g gate hid both): (1) plane constants carry an exponent
    // (`...e0`) so DuckDB parses them directly as DOUBLE — a bare
    // high-precision literal parses as DECIMAL first and the
    // decimal→double hop is 1 ulp off the Java literal; (2) an explicit
    // LEFT-ASSOCIATED v[1]*c1 + v[2]*c2 + ... chain replays
    // ArrayDotProduct's strict left-to-right IEEE sequence exactly.
    def dlit(c: Double): String = {
      val s = c.toString
      if (s.contains('E') || s.contains('e')) s else s + "e0"
    }
    val cols = planes.zipWithIndex.map { case (p, i) =>
      val terms = p.zipWithIndex
        .map { case (c, j) => s"v[${j + 1}] * ${dlit(c)}" }
        .mkString(" + ")
      s"($terms) / $scale AS y${i + 1}"
    }.mkString(",\n       |  ")
    s"""WITH ve AS (SELECT vec_id, label,
       |    $embVecSql AS v
       |  FROM embeddings)
       |SELECT vec_id, label,
       |  $cols
       |FROM ve ORDER BY vec_id""".stripMargin
  }

  /** e3 oracle: every Lloyd iteration replayed — assignment = rn 1 over
    * (ip(c,c) − 2·ip(v,c)) ASC, cid ASC; update = per-dim AVG rounded
    * to 6 (the round-6 resync makes the AVG order-independence moot);
    * emptied cells COALESCE to their previous centroid. Iteration CTEs
    * are generated from one template so all three are identical; the
    * name suffix `x` lets two fits (e12) coexist in one WITH. */
  private def lloydIterSql(i: Int, x: String): String = {
    val (prev, a, m, c) = (s"c${i - 1}$x", s"a$i$x", s"m$i$x", s"c$i$x")
    s"""$a AS (SELECT vec_id, v, cid AS cell FROM (
       |    SELECT e.vec_id, e.v, c.cid,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
       |        ${centroidDistSql("e.v", "\n        ")} ASC, c.cid ASC) AS rn
       |    FROM emb e CROSS JOIN $prev c) t WHERE rn = 1),
       |$m AS (SELECT cell, list(m ORDER BY dim) AS cv FROM (
       |    SELECT a.cell, d.dim, ROUND(AVG(a.v[d.dim]), 6) AS m
       |    FROM $a a CROSS JOIN dims d GROUP BY a.cell, d.dim) t GROUP BY cell),
       |$c AS (SELECT p.cid, COALESCE(m.cv, p.cv) AS cv
       |  FROM $prev p LEFT JOIN $m m ON m.cell = p.cid)""".stripMargin
  }

  /** The shared Lloyd replay (emb → dims → c0 → c1..c3) — e3's proven
    * fit chain, reused by the e9 silhouette oracle so the quality read
    * certifies against the SAME centroids. */
  private val e3CtesSql: String =
    s"""${embCte("emb")},
       |dims AS (SELECT UNNEST(range(1, 65)) AS dim),
       |c0 AS (SELECT ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
       |      vec_id) - 1 AS cid, v AS cv
       |  FROM (SELECT vec_id, v FROM emb
       |        ORDER BY $md5OrderSql LIMIT 8) t),
       |${(1 to 3).map(lloydIterSql(_, "")).mkString(",\n")}""".stripMargin

  /** x30 oracle: x2's verbatim score/token-count fragments (the IEEE
    * sequences x2's hash match proves identical), conditional-summed
    * once per threshold and unioned into the curve. */
  // x2's token-count and composite-score fragments (IEEE-identical to
  // TextAnalysis.qualityColumns — proven by x2's hash match), shared by
  // the x30 yield curve and the p4 datasheet oracles
  private val qStopSql =
    s"len(list_filter(string_split_regex($normSql, ' '), t -> t IN ${stopListSql("en")}))"
  private val qScoreSql =
    s"least($tokenCountSql / 100.0, 1.0) * 0.4 " +
      s"+ (length(regexp_replace(text, '[^A-Za-z]', '', 'g')) / greatest(length(text), 1)) * 0.4 " +
      s"+ least($qStopSql / greatest($tokenCountSql, 1) * 5.0, 1.0) * 0.2"

  private def x30OracleSql: String = {
    val toks = tokenCountSql
    val score = qScoreSql
    val taus = Seq("0.3", "0.5", "0.7", "0.9")
    val sums = taus.zipWithIndex.map { case (t0, i) =>
      s"SUM(CASE WHEN score >= CAST($t0 AS DOUBLE) THEN 1 ELSE 0 END) AS k$i, " +
        s"SUM(CASE WHEN score >= CAST($t0 AS DOUBLE) THEN n_tokens ELSE 0 END) AS tk$i"
    }.mkString(",\n    ")
    val rows = taus.zipWithIndex.map { case (t0, i) =>
      s"SELECT CAST($t0 AS DOUBLE) AS threshold, CAST(k$i AS BIGINT) AS n_kept, " +
        s"CAST(k$i AS DOUBLE) / CAST(n AS DOUBLE) AS keep_rate, " +
        s"CAST(tk$i AS BIGINT) AS tok_kept, CAST(tk$i AS DOUBLE) / CAST(tok AS DOUBLE) AS tok_share FROM a"
    }.mkString(" UNION ALL ")
    s"""WITH q AS (SELECT CAST($toks AS BIGINT) AS n_tokens,
       |    $score AS score FROM documents),
       |a AS (SELECT COUNT(*) AS n, SUM(n_tokens) AS tok,
       |    $sums
       |  FROM q)
       |SELECT * FROM ($rows) ORDER BY threshold""".stripMargin
  }

  /** x31 oracle: x1's scoring chain templated over a per-half text
    * expression (the same stopword profiles, cjk ratio, and en>de>es>fr
    * tie-break x1's hash match proves against the compiled kernel). */
  private def langPredCtes(sfx: String, src: String): String =
    s"""b$sfx AS (SELECT doc_id,
       |    string_split(${normTextSql(src)}, ' ') AS toks,
       |    ${cjkRatioSql(src)} AS cjk
       |  FROM h),
       |s$sfx AS (SELECT doc_id, cjk,
       |    $stopScoresSql
       |  FROM b$sfx),
       |p$sfx AS (SELECT doc_id,
       |    CASE WHEN cjk > 0.3 THEN 'zh'
       |         WHEN greatest(s_en, s_de, s_es, s_fr) > 0.0 THEN
       |           CASE WHEN s_en >= greatest(s_de, s_es, s_fr) THEN 'en'
       |                WHEN s_de >= greatest(s_es, s_fr) THEN 'de'
       |                WHEN s_es >= s_fr THEN 'es' ELSE 'fr' END
       |         ELSE 'und' END AS pred$sfx
       |  FROM s$sfx)""".stripMargin

  private def x31OracleSql: String =
    s"""WITH raw AS (SELECT doc_id, lang, text FROM documents),
       |nx AS (SELECT r.doc_id, r.lang,
       |    r.text || ' ' || COALESCE(n.text, r.text) AS mtext
       |  FROM raw r LEFT JOIN raw n ON n.doc_id = r.doc_id + 1),
       |h AS (SELECT doc_id, lang,
       |    substr(mtext, 1, length(mtext) // 2) AS t1,
       |    substr(mtext, length(mtext) // 2 + 1) AS t2
       |  FROM nx),
       |${langPredCtes("1", "t1")},
       |${langPredCtes("2", "t2")}
       |SELECT h.doc_id, h.lang, p1.pred1 AS lang_h1, p2.pred2 AS lang_h2,
       |  p1.pred1 = p2.pred2 AS consistent
       |FROM h JOIN p1 USING (doc_id) JOIN p2 USING (doc_id)
       |ORDER BY h.doc_id""".stripMargin

  /** e12 oracle helpers: the e3 iteration template with a NAME SUFFIX
    * so two full fit chains (init salts "" and "b") coexist in one
    * WITH, then the contingency/ARI arithmetic in exact integers. */
  private def e12ChainSql(x: String, salt: String): String =
    s"""c0$x AS (SELECT ROW_NUMBER() OVER (ORDER BY
       |      md5('$salt' || CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cid,
       |    v AS cv
       |  FROM (SELECT vec_id, v FROM emb
       |        ORDER BY md5('$salt' || CAST(vec_id AS VARCHAR)), vec_id
       |        LIMIT 8) t),
       |${(1 to 3).map(lloydIterSql(_, x)).mkString(",\n")}""".stripMargin

  private def e12FinSql(x: String, cCol: String): String =
    s"""fin$x AS (SELECT vec_id, cid AS $cCol FROM (
       |    SELECT e.vec_id, c.cid,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
       |        ${centroidDistSql("e.v", "\n        ")} ASC, c.cid ASC) AS rn
       |    FROM emb e CROSS JOIN c3$x c) t WHERE rn = 1)""".stripMargin

  private def e12OracleSql: String =
    s"""WITH ${embCte("emb")},
       |dims AS (SELECT UNNEST(range(1, 65)) AS dim),
       |${e12ChainSql("xa", "")},
       |${e12ChainSql("xb", "b")},
       |${e12FinSql("xa", "ca")},
       |${e12FinSql("xb", "cb")},
       |cont AS (SELECT a.ca, b.cb, COUNT(*) AS n
       |  FROM finxa a JOIN finxb b ON a.vec_id = b.vec_id GROUP BY 1, 2),
       |sagg AS (SELECT SUM(n * (n - 1) // 2) AS s, SUM(n) AS nn,
       |    COUNT(DISTINCT ca) AS k_a, COUNT(DISTINCT cb) AS k_b FROM cont),
       |aagg AS (SELECT SUM(t * (t - 1) // 2) AS ac
       |  FROM (SELECT SUM(n) AS t FROM cont GROUP BY ca)),
       |bagg AS (SELECT SUM(t * (t - 1) // 2) AS bc
       |  FROM (SELECT SUM(n) AS t FROM cont GROUP BY cb))
       |SELECT CAST(nn AS BIGINT) AS n_points, k_a, k_b,
       |  CAST(s AS BIGINT) AS sum_comb, CAST(ac AS BIGINT) AS a_comb,
       |  CAST(bc AS BIGINT) AS b_comb,
       |  (CAST(s AS DOUBLE) - CAST(ac * bc AS DOUBLE)
       |      / CAST(nn * (nn - 1) // 2 AS DOUBLE))
       |  / (CAST(ac + bc AS DOUBLE) / 2.0 - CAST(ac * bc AS DOUBLE)
       |      / CAST(nn * (nn - 1) // 2 AS DOUBLE)) AS ari
       |FROM sagg, aagg, bagg""".stripMargin

  private val e3OracleSql: String =
    s"""WITH $e3CtesSql,
       |fin AS (SELECT vec_id, cid AS cluster, d, ipvv FROM (
       |    SELECT e.vec_id, c.cid,
       |      ${centroidDistSql("e.v", "\n      ")} AS d,
       |      list_inner_product(e.v, e.v) AS ipvv,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
       |        ${centroidDistSql("e.v", "\n        ")} ASC, c.cid ASC) AS rn
       |    FROM emb e CROSS JOIN c3 c) t WHERE rn = 1)
       |SELECT vec_id, cluster,
       |  ROUND(sqrt(GREATEST(0.0, d + ipvv)), 6) AS dist
       |FROM fin ORDER BY vec_id""".stripMargin

  /** e9 oracle: e3's Lloyd chain + every (vector, centroid) distance
    * ranked (d asc, cid asc); rank 1 = own cluster, rank 2 = nearest
    * other; identical silhouette arithmetic and decimal-exact means. */
  private val e9OracleSql: String =
    s"""WITH $e3CtesSql,
       |ds AS (SELECT e.vec_id, c.cid,
       |    ${centroidDistSql("e.v", "\n      ")} AS d,
       |    list_inner_product(e.v, e.v) AS ipvv,
       |    ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
       |      ${centroidDistSql("e.v", "\n      ")} ASC, c.cid ASC) AS rn
       |  FROM emb e CROSS JOIN c3 c),
       |ab AS (SELECT o.vec_id, o.cid AS cluster,
       |    sqrt(GREATEST(0.0, o.d + o.ipvv)) AS a,
       |    sqrt(GREATEST(0.0, s.d + s.ipvv)) AS b
       |  FROM (SELECT * FROM ds WHERE rn = 1) o
       |  JOIN (SELECT * FROM ds WHERE rn = 2) s ON o.vec_id = s.vec_id),
       |sv AS (SELECT cluster,
       |    ROUND(CASE WHEN GREATEST(a, b) = 0 THEN 0.0
       |          ELSE (b - a) / GREATEST(a, b) END, 6) AS sil
       |  FROM ab)
       |SELECT cluster, COUNT(*) AS n,
       |  CAST(SUM(CAST(sil AS DECIMAL(20,6))) AS DOUBLE) / COUNT(*)
       |    AS mean_sil
       |FROM sv GROUP BY cluster ORDER BY cluster""".stripMargin

  /** p1 oracle body (shared with p2, which filters to batch ids). */
  private val p1OracleSql: String =
    s"""WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL SELECT doc_id + 1000000, text FROM documents),
      |dup AS (SELECT doc_id, md5(text) AS dg FROM corpus),
      |keep0 AS (SELECT dg, MIN(doc_id) AS keeper FROM dup GROUP BY dg),
      |dupv AS (SELECT d.doc_id, d.doc_id <> k.keeper AS is_dup,
      |    CASE WHEN d.doc_id <> k.keeper THEN k.keeper END AS dup_of
      |  FROM dup d JOIN keep0 k USING (dg)),
      |${shingleCte("cg", 12, "corpus")},
      |eg AS (SELECT DISTINCT unnest(sh) AS g FROM cg WHERE doc_id < 20),
      |docg AS (SELECT doc_id, unnest(sh) AS g FROM cg),
      |hits AS (SELECT DISTINCT doc_id FROM docg JOIN eg USING (g)),
      |q AS (SELECT doc_id,
      |    CAST($tokenCountSql AS BIGINT) AS n_tokens,
      |    least($tokenCountSql / 100.0, 1.0) * 0.4
      |     + (length(regexp_replace(text, '[^A-Za-z]', '', 'g')) / greatest(length(text), 1)) * 0.4
      |     + least(len(list_filter(string_split_regex($normSql, ' '),
      |          t -> t IN ${stopListSql("en")}))
      |        / greatest($tokenCountSql, 1) * 5.0, 1.0) * 0.2
      |     AS quality_score
      |  FROM corpus)
      |SELECT v.doc_id, v.is_dup, v.dup_of,
      |  h.doc_id IS NOT NULL AS contaminated,
      |  q.n_tokens, q.quality_score,
      |  (NOT v.is_dup AND h.doc_id IS NULL AND q.quality_score >= 0.5
      |   AND q.n_tokens BETWEEN 20 AND 2000) AS keep,
      |  CASE WHEN v.is_dup THEN 'dup'
      |       WHEN h.doc_id IS NOT NULL THEN 'contaminated'
      |       WHEN q.quality_score < 0.5 THEN 'low_quality'
      |       WHEN q.n_tokens NOT BETWEEN 20 AND 2000 THEN 'length' END AS drop_reason
      |FROM dupv v LEFT JOIN hits h USING (doc_id) JOIN q USING (doc_id)
      |ORDER BY v.doc_id""".stripMargin

  /** p3 oracle: p1's proven verdict replay nested as a CTE, x9's quota
    * ranking, x12's recursive greedy-packing replay at capacity 512,
    * and the same manifest fold — the full shard build certified by
    * composition of proven parts. */
  private val p3OracleSql: String =
    s"""WITH RECURSIVE keepset AS (
       |$p1OracleSql
       |),
       |corp AS (SELECT doc_id, source FROM documents
       |  UNION ALL SELECT doc_id + 1000000, source FROM documents),
       |pbase AS (SELECT k.doc_id, c.source, CAST(k.n_tokens AS INT) AS n_tok
       |  FROM keepset k JOIN corp c ON c.doc_id = k.doc_id WHERE k.keep),
       |q AS (SELECT doc_id FROM (
       |    SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY source
       |      ORDER BY CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS DOUBLE) ASC,
       |        doc_id ASC) AS rk
       |    FROM pbase) t WHERE rk <= 12),
       |sel AS (SELECT b.doc_id, b.source, b.n_tok,
       |    CAST(row_number() OVER (PARTITION BY b.source
       |      ORDER BY b.doc_id) AS INT) AS rn
       |  FROM pbase b JOIN q USING (doc_id)),
       |rec AS (
       |  SELECT source, doc_id, n_tok, rn, CAST(0 AS BIGINT) AS bin_id,
       |    n_tok AS fill, CAST(0 AS INT) AS bin_pos
       |  FROM sel WHERE rn = 1
       |  UNION ALL
       |  SELECT b.source, b.doc_id, b.n_tok, b.rn,
       |    CAST(CASE WHEN r.fill + b.n_tok <= 512 THEN r.bin_id
       |      ELSE r.bin_id + 1 END AS BIGINT),
       |    CAST(CASE WHEN r.fill + b.n_tok <= 512 THEN r.fill + b.n_tok
       |      ELSE b.n_tok END AS INT),
       |    CAST(CASE WHEN r.fill + b.n_tok <= 512 THEN r.bin_pos + 1
       |      ELSE 0 END AS INT)
       |  FROM rec r JOIN sel b ON b.source = r.source AND b.rn = r.rn + 1)
       |SELECT source, bin_id, COUNT(*) AS n_docs,
       |  CAST(SUM(n_tok) AS BIGINT) AS fill,
       |  CAST(GREATEST(512 - SUM(n_tok), 0) AS BIGINT) AS waste,
       |  md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY bin_pos))
       |    AS ids_md5
       |FROM rec GROUP BY source, bin_id ORDER BY source, bin_id""".stripMargin

  /** x33 oracle: the first-occurrence trick replayed from first
    * principles — per-token MIN(doc_id), re-bucketed with the same
    * exact integer DIV, cumulative window over the 20 bucket rows.
    * Every value is an exact integer on both engines. */
  private def x33OracleSql: String =
    s"""WITH base AS (SELECT doc_id, $tokensSql AS toks
       |  FROM documents),
       |b AS (SELECT MIN(doc_id) AS lo, MAX(doc_id) AS hi FROM base),
       |wb AS (SELECT doc_id, toks,
       |    LEAST(19, ((doc_id - lo) * 20) // (hi - lo + 1)) AS bucket
       |  FROM base, b),
       |ds AS (SELECT bucket, COUNT(*) AS n_docs,
       |    CAST(SUM(len(toks)) AS BIGINT) AS n_tokens
       |  FROM wb GROUP BY bucket),
       |fs AS (SELECT tok, MIN(doc_id) AS fd FROM
       |    (SELECT doc_id, unnest(toks) AS tok FROM wb) GROUP BY tok),
       |nt AS (SELECT LEAST(19, ((fd - lo) * 20) // (hi - lo + 1)) AS bucket,
       |    COUNT(*) AS new_tokens FROM fs, b GROUP BY 1),
       |j AS (SELECT ds.bucket, ds.n_docs, ds.n_tokens,
       |    COALESCE(nt.new_tokens, 0) AS new_tokens
       |  FROM ds LEFT JOIN nt ON ds.bucket = nt.bucket)
       |SELECT bucket, n_docs, n_tokens, new_tokens,
       |  CAST(SUM(n_docs) OVER w AS BIGINT) AS docs_cum,
       |  CAST(SUM(n_tokens) OVER w AS BIGINT) AS tokens_cum,
       |  CAST(SUM(new_tokens) OVER w AS BIGINT) AS vocab_cum
       |FROM j WINDOW w AS (ORDER BY bucket
       |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |ORDER BY bucket""".stripMargin

  /** The 64 embedding dimensions on the 1e-6 integer grid as exact
    * HUGEINT columns q0…q63 (e5's FLOOR quantization), and their sums
    * s0…s63 — shared by e13 and e15. */
  private val gridQDefs: String = (0 until 64).map(i =>
    s"CAST(FLOOR(CAST(embedding[${i + 1}] AS DOUBLE) * 1000000.0) " +
      s"AS HUGEINT) AS q$i").mkString(",\n    ")
  private val gridQSums: String = (0 until 64).map(i => s"SUM(q$i) AS s$i").mkString(", ")

  /** e13 oracle: the moment identity replayed on the same 1e-6 integer
    * grid (e5's FLOOR quantization device) — per-label exact HUGEINT
    * sums Σq_d, Σ‖q‖², then 2·(n·S2 − Σ_d(Σq_d)²)/(n(n−1))/10¹² with
    * the identical terminal IEEE division sequence. */
  private def e13OracleSql: String = {
    val dim = 64
    val s2Terms = (0 until dim).map(i => s"q$i * q$i").mkString(" + ")
    val ssTerms = (0 until dim).map(i => s"s$i * s$i").mkString(" + ")
    val sSumsAll = (0 until dim).map(i => s"SUM(s$i) AS s$i").mkString(", ")
    s"""WITH q AS (SELECT CAST(label AS VARCHAR) AS label,
       |    $gridQDefs
       |  FROM embeddings),
       |lab AS (SELECT label, CAST(COUNT(*) AS HUGEINT) AS n, $gridQSums,
       |    SUM($s2Terms) AS ssq
       |  FROM q GROUP BY label),
       |alab AS (SELECT 'all' AS label, CAST(SUM(n) AS HUGEINT) AS n,
       |    $sSumsAll, SUM(ssq) AS ssq FROM lab),
       |u AS (SELECT * FROM lab UNION ALL SELECT * FROM alab)
       |SELECT label, CAST(n AS BIGINT) AS n_vecs,
       |  CASE WHEN n > 1 THEN
       |    CAST((n * ssq - ($ssTerms)) * 2 AS DOUBLE) /
       |      CAST(n * (n - 1) AS DOUBLE) / 1000000000000.0
       |  END AS mean_sq_dist
       |FROM u ORDER BY label""".stripMargin
  }

  /** d17 oracle: the identical 8-term polynomial boundary rule (the
    * constants interpolate from [[CdcChunkDigests]] — one source of
    * truth), chunks cut by LAG over the boundary list, digests
    * re-derived from raw substrings. */
  private def d17OracleSql: String = {
    val P = CdcChunkDigests.pows
    val terms = (0 until 8).map(k =>
      s"CAST(ascii(substr(t, CAST(i - ${7 - k} AS INT), 1)) AS BIGINT)" +
        s" * ${P(k)}")
      .mkString(" +\n        ")
    s"""WITH corpus AS (
       |$perturbedCopiesSql),
       |base AS (SELECT doc_id,
       |    $normSql AS t
       |  FROM corpus),
       |b2 AS (SELECT doc_id, t, len(t) AS ln FROM base),
       |pos AS (SELECT doc_id, t, ln, unnest(range(8, ln + 1)) AS i
       |  FROM b2 WHERE ln >= 8),
       |bnd AS (SELECT doc_id, i FROM pos
       |  WHERE ((
       |        $terms) % ${CdcChunkDigests.M}) % 64 = 0),
       |bl AS (SELECT doc_id, list_sort(list(i)) AS bs FROM bnd
       |  GROUP BY doc_id),
       |wb AS (SELECT b2.doc_id, b2.t,
       |    list_sort(list_distinct(
       |      list_append(COALESCE(bl.bs, []), CAST(b2.ln AS BIGINT)))) AS bs2
       |  FROM b2 LEFT JOIN bl ON b2.doc_id = bl.doc_id),
       |ch0 AS (SELECT doc_id, t, unnest(bs2) AS b FROM wb),
       |ch1 AS (SELECT doc_id, t, b,
       |    COALESCE(LAG(b) OVER (PARTITION BY doc_id ORDER BY b), 0) + 1 AS s
       |  FROM ch0),
       |chunks AS (SELECT doc_id,
       |    md5(substr(t, CAST(s AS INT), CAST(b - s + 1 AS INT))) AS digest
       |  FROM ch1),
       |occ AS (SELECT digest, COUNT(DISTINCT doc_id) AS n_docs
       |  FROM chunks GROUP BY digest)
       |SELECT c.doc_id, COUNT(*) AS n_chunks,
       |  COUNT(CASE WHEN o.n_docs > 1 THEN 1 END) AS n_shared,
       |  ROUND(COUNT(CASE WHEN o.n_docs > 1 THEN 1 END) / COUNT(*), 6)
       |    AS shared_frac
       |FROM chunks c JOIN occ o ON c.digest = o.digest
       |GROUP BY c.doc_id ORDER BY c.doc_id""".stripMargin
  }

  /** e15 oracle: exact HUGEINT slice sums on the same grid, then the
    * identical left-to-right 64-term mean/L2/cosine chains. */
  private def e15OracleSql: String = {
    val dim = 64
    def mean(p: Char, n: String, i: Int): String =
      s"CAST($p$i AS DOUBLE) / CAST($n AS DOUBLE) / 1000000.0"
    val l2 = (0 until dim).map(i =>
      s"(${mean('a', "n_a", i)} - ${mean('b', "n_b", i)}) * " +
        s"(${mean('a', "n_a", i)} - ${mean('b', "n_b", i)})")
      .mkString(" +\n    ")
    val dot = (0 until dim).map(i =>
      s"${mean('a', "n_a", i)} * ${mean('b', "n_b", i)}").mkString(" + ")
    val na2 = (0 until dim).map(i =>
      s"${mean('a', "n_a", i)} * ${mean('a', "n_a", i)}").mkString(" + ")
    val nb2 = (0 until dim).map(i =>
      s"${mean('b', "n_b", i)} * ${mean('b', "n_b", i)}").mkString(" + ")
    val aCols = (0 until dim).map(i => s"s$i AS a$i").mkString(", ")
    val bCols = (0 until dim).map(i => s"s$i AS b$i").mkString(", ")
    s"""WITH q AS (SELECT CAST(label AS VARCHAR) AS label,
       |    vec_id % 2 = 0 AS in_a,
       |    $gridQDefs
       |  FROM embeddings),
       |g AS (SELECT label, in_a, CAST(COUNT(*) AS HUGEINT) AS n, $gridQSums
       |  FROM q GROUP BY label, in_a),
       |a AS (SELECT label, n AS n_a, $aCols FROM g WHERE in_a),
       |b AS (SELECT label, n AS n_b, $bCols FROM g WHERE NOT in_a)
       |SELECT a.label, CAST(n_a AS BIGINT) AS n_a,
       |  CAST(n_b AS BIGINT) AS n_b,
       |  ROUND($l2, 6) + 0.0 AS l2_sq,
       |  ROUND(($dot) / (sqrt($na2) * sqrt($nb2)), 6) + 0.0 AS cos_means
       |FROM a JOIN b ON a.label = b.label ORDER BY a.label""".stripMargin
  }

  /** e20: the identical grid pipeline — per-row left-assoc norm² fold
    * of exact float×float products, one sqrt, ⌊û·10⁶⌋ longs, exact
    * HUGEINT corpus sums, then the pinned terminal fold/divisions. */
  private def e20OracleSql: String = {
    val dim = 64
    val xDefs = (0 until dim).map(i =>
      s"CAST(embedding[${i + 1}] AS DOUBLE) AS x$i").mkString(",\n    ")
    val norm2 = (0 until dim).map(i => s"x$i * x$i").mkString(" + ")
    val uDefs = (0 until dim).map(i =>
      s"CAST(FLOOR(x$i / SQRT(norm2) * 1000000.0) AS BIGINT) AS u$i")
      .mkString(",\n    ")
    val rowSS = (0 until dim).map(i => s"u$i * u$i").mkString(" + ")
    val sSums = (0 until dim).map(i =>
      s"SUM(CAST(u$i AS HUGEINT)) AS s$i").mkString(", ")
    val fold = (0 until dim).map(i =>
      s"(CAST(s$i AS DOUBLE) / 1000000.0) * (CAST(s$i AS DOUBLE) / 1000000.0)")
      .mkString(" +\n    ")
    s"""WITH e AS (SELECT
       |    $xDefs
       |  FROM embeddings),
       |n2 AS (SELECT *, $norm2 AS norm2 FROM e),
       |q AS (SELECT
       |    CAST(FLOOR(SQRT(norm2) * 1000000.0) AS HUGEINT) AS qn,
       |    $uDefs
       |  FROM n2 WHERE norm2 > 0.0),
       |g AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n, SUM(qn) AS sn,
       |    SUM(CAST($rowSS AS HUGEINT)) AS ssq, $sSums
       |  FROM q)
       |SELECT CAST(n AS BIGINT) AS n_used,
       |  ROUND(CAST(sn AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0, 6) + 0.0
       |    AS mean_norm,
       |  ROUND(CASE WHEN n > 1 THEN ($fold
       |    - CAST(ssq AS DOUBLE) / 1e12)
       |    / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) END, 6) + 0.0
       |    AS mean_cos
       |FROM g""".stripMargin
  }

  /** Oracles for the SQL-expressible subset; the rest are rows-only
    * (probabilistic sketches / LSH top-k with engine-seeded internals). */
  val sql: Map[String, String] = Map(
    "x36_tokenizer_fertility" -> x36OracleSql,
    "e15_embed_drift" -> e15OracleSql,
    "e20_anisotropy" -> e20OracleSql,
    "x41_ndcg" -> x41OracleSql,
    "d17_cdc_chunks" -> d17OracleSql,
    // d18: the identical min-setter replay — bit state before doc d is
    // "min id touching the position < d"; fill = bits/2^13 (EXACT
    // power-of-two division), pred_fpr = ((f·f)·f) pinned left-assoc
    "d18_bloom_dedup" ->
      s"""WITH pool AS (SELECT doc_id, source, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, source, text FROM documents),
        |d AS (SELECT doc_id AS id, source,
        |    md5($normSql) AS digest
        |  FROM pool),
        |hj AS (SELECT unnest(range(0, 3)) AS j),
        |pos AS (SELECT id,
        |    CAST('0x' || substr(md5(CAST(j AS VARCHAR) || '|' || digest),
        |      1, 15) AS BIGINT) % 8192 AS pos
        |  FROM d, hj),
        |setters AS (SELECT pos, MIN(id) AS first_id FROM pos GROUP BY pos),
        |fl AS (SELECT p.id, MAX(s.first_id) < p.id AS flagged
        |  FROM pos p JOIN setters s ON p.pos = s.pos GROUP BY p.id),
        |fd AS (SELECT digest, MIN(id) AS first_dup FROM d GROUP BY digest),
        |v AS (SELECT d.id, d.source, fd.first_dup < d.id AS is_dup,
        |    fl.flagged
        |  FROM d JOIN fd ON d.digest = fd.digest JOIN fl ON fl.id = d.id),
        |ps AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(COUNT(CASE WHEN is_dup THEN 1 END) AS BIGINT)
        |      AS n_true_dup,
        |    CAST(COUNT(CASE WHEN flagged THEN 1 END) AS BIGINT)
        |      AS n_flagged,
        |    CAST(COUNT(CASE WHEN flagged AND NOT is_dup THEN 1 END)
        |      AS BIGINT) AS n_false_pos
        |  FROM v GROUP BY source),
        |b AS (SELECT CAST(COUNT(*) AS BIGINT) AS bits_set FROM setters)
        |SELECT source, n_docs, n_true_dup, n_flagged, n_false_pos,
        |  CASE WHEN n_docs > n_true_dup THEN CAST(n_false_pos AS DOUBLE)
        |    / CAST(n_docs - n_true_dup AS DOUBLE) END AS false_pos_rate,
        |  bits_set,
        |  CAST(bits_set AS DOUBLE) / 8192.0 AS fill_frac,
        |  CAST(bits_set AS DOUBLE) / 8192.0
        |    * (CAST(bits_set AS DOUBLE) / 8192.0)
        |    * (CAST(bits_set AS DOUBLE) / 8192.0) AS pred_fpr
        |FROM ps, b ORDER BY source""".stripMargin,
    // m8: block-walk results recomputed arithmetically — member i has
    // size (id%1000) + 300i + 37; n_bytes = headers + data blocks + the
    // 1024-byte terminator, all in 512-byte units
    "m8_tar_parse" ->
      """WITH d AS (SELECT doc_id, doc_id % 4 + 1 AS n, doc_id % 1000 AS b
        |  FROM documents),
        |f AS (SELECT doc_id, n, b, unnest(range(0, n)) AS i FROM d),
        |per AS (SELECT doc_id, b + 300 * i + 37 AS sz FROM f),
        |ag AS (SELECT doc_id, COUNT(*) AS n_files,
        |    CAST(SUM(sz) AS BIGINT) AS total_size,
        |    CAST(SUM((sz + 511) // 512) AS BIGINT) AS data_blocks
        |  FROM per GROUP BY doc_id)
        |SELECT doc_id, 'tar' AS fmt,
        |  (n_files + data_blocks) * 512 + 1024 AS n_bytes,
        |  n_files, total_size, data_blocks
        |FROM ag ORDER BY doc_id""".stripMargin,
    // m9: every field recomputed arithmetically from the planted
    // geometry — 13 header+LSD + 3·2^(e+1) GCT + 8 GCE + optional
    // (4+L) comment + per frame (12 + data + ceil(data/255) length
    // prefixes) + 1 trailer
    "m9_gif_parse" ->
      """WITH d AS (SELECT doc_id, doc_id % 2 = 0 AS v89,
        |    CAST(doc_id % 320 + 1 AS INT) AS w,
        |    CAST(doc_id % 200 + 1 AS INT) AS h,
        |    CAST(doc_id % 4 AS INT) AS e, doc_id % 3 + 1 AS nf,
        |    doc_id % 5 < 2 AS wc, doc_id % 7 + 1 AS cl
        |  FROM documents),
        |f AS (SELECT doc_id, unnest(range(0, nf)) AS fi,
        |    doc_id % 200 + 13 AS base FROM d),
        |per AS (SELECT doc_id, base + 40 * fi AS df FROM f),
        |ag AS (SELECT doc_id, CAST(COUNT(*) AS INT) AS n_frames,
        |    CAST(SUM(df) AS BIGINT) AS data_bytes,
        |    CAST(SUM((df + 254) // 255) AS BIGINT) AS n_subblocks,
        |    CAST(SUM(12 + df + (df + 254) // 255) AS BIGINT)
        |      AS frame_bytes
        |  FROM per GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CASE WHEN v89 THEN 'gif89' ELSE 'gif87' END AS fmt,
        |  CAST(13 + 3 * (1 << (e + 1)) + 8
        |    + CASE WHEN wc THEN 4 + cl ELSE 0 END
        |    + frame_bytes + 1 AS BIGINT) AS n_bytes,
        |  w AS width, h AS height,
        |  CAST(1 << (e + 1) AS INT) AS gct_entries, n_frames,
        |  CAST(CASE WHEN wc THEN 2 ELSE 1 END AS INT) AS n_exts,
        |  n_subblocks, data_bytes
        |FROM d JOIN ag ON d.doc_id = ag.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    // m10: every field recomputed arithmetically from the planted
    // geometry — 4 magic + 38 STREAMINFO + optional (4 + 4+vl+4)
    // vorbis + optional (4 + pl) padding + fl frame tail; duration is
    // exact integral division of positive ints (Spark / == DuckDB //)
    "m10_flac_parse" ->
      """WITH d AS (SELECT doc_id,
        |    CAST(8000 + doc_id % 40001 AS INT) AS sr,
        |    CAST(doc_id % 8 + 1 AS INT) AS ch,
        |    CAST(doc_id % 17 + 8 AS INT) AS bps,
        |    doc_id % 100000 + 1000 AS ts,
        |    CASE WHEN doc_id % 2 = 0 THEN doc_id % 20 + 1 ELSE 0 END AS vl,
        |    doc_id % 3 = 0 AS wp,
        |    doc_id % 64 AS pl, doc_id % 300 AS fl
        |  FROM documents)
        |SELECT doc_id, 'flac' AS fmt,
        |  CAST(4 + 38 + CASE WHEN vl > 0 THEN 4 + 4 + vl + 4 ELSE 0 END
        |    + CASE WHEN wp THEN 4 + pl ELSE 0 END + fl AS BIGINT)
        |    AS n_bytes,
        |  sr AS sample_rate, ch AS channels, bps AS bits_per_sample,
        |  CAST(ts AS BIGINT) AS total_samples,
        |  CAST(ts * 1000 // sr AS BIGINT) AS duration_ms,
        |  CAST(1 + CASE WHEN vl > 0 THEN 1 ELSE 0 END
        |    + CASE WHEN wp THEN 1 ELSE 0 END AS INT) AS n_blocks,
        |  CAST(CASE WHEN wp THEN pl ELSE 0 END AS BIGINT) AS padding_bytes,
        |  CAST(fl AS BIGINT) AS frame_bytes
        |FROM d ORDER BY doc_id""".stripMargin,
    // m11: every offset/byte count recomputed arithmetically — body_i
    // = digits(i) + digits(L_i) + L_i + 45 (the fixed framing), xref
    // at 9 + Σbody, file = xref + 5 + (3 + digits(M)) + 20·M +
    // (30 + digits(M)) + (11 + digits(xref)) + 5
    "m11_pdf_xref" ->
      """WITH d AS (SELECT doc_id, CAST(doc_id % 5 + 2 AS INT) AS n,
        |    doc_id % 97 + 10 AS lb FROM documents),
        |obj AS (SELECT doc_id, n, lb,
        |    CAST(unnest(range(1, n + 1)) AS BIGINT) AS i FROM d),
        |ob AS (SELECT doc_id, n, i, lb + i AS L,
        |    length(CAST(i AS VARCHAR)) + length(CAST(lb + i AS VARCHAR))
        |      + (lb + i) + 45 AS body
        |  FROM obj),
        |ag AS (SELECT doc_id, n, CAST(SUM(body) AS BIGINT) AS bodies,
        |    CAST(SUM(L) AS BIGINT) AS stream_bytes
        |  FROM ob GROUP BY doc_id, n)
        |SELECT doc_id, 'pdf' AS fmt,
        |  CAST(9 + bodies + 5 + 3 + length(CAST(n + 1 AS VARCHAR))
        |    + 20 * (n + 1) + 30 + length(CAST(n + 1 AS VARCHAR))
        |    + 11 + length(CAST(9 + bodies AS VARCHAR)) + 5 AS BIGINT)
        |    AS n_bytes,
        |  n AS n_objects,
        |  CAST(9 + bodies AS BIGINT) AS xref_offset,
        |  stream_bytes, n AS n_verified,
        |  CAST(n + 1 AS INT) AS size_entry
        |FROM ag ORDER BY doc_id""".stripMargin,
    // x35: freq-of-freq recompute over a dense 1..10 grid (missing r
    // rows must read N_r = 0, and N_{r+1} comes from the GRID lead —
    // a sparse lead would skip over absent counts)
    "x35_good_turing" ->
      s"""WITH tok AS (SELECT unnest($tokensSql) AS tok
        |  FROM documents),
        |tc AS (SELECT tok, COUNT(*) AS c FROM tok GROUP BY tok),
        |st AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM tc),
        |ff AS (SELECT c AS r, COUNT(*) AS n_r FROM tc
        |  WHERE c <= 10 GROUP BY c),
        |grid AS (SELECT unnest(range(1, 11)) AS r),
        |j AS (SELECT grid.r, COALESCE(ff.n_r, 0) AS n_r
        |  FROM grid LEFT JOIN ff ON grid.r = ff.r),
        |l AS (SELECT r, n_r,
        |    COALESCE(LEAD(n_r, 1) OVER (ORDER BY r), 0) AS n_r1
        |  FROM j)
        |SELECT l.r, l.n_r,
        |  ROUND(l.r * l.n_r / st.n, 6) AS mass_share,
        |  CASE WHEN l.n_r > 0
        |    THEN ROUND((l.r + 1) * l.n_r1 / l.n_r, 6) END AS r_star
        |FROM l, st ORDER BY l.r""".stripMargin,
    // x34: raw-string-gram recompute (first principles vs the engine's
    // hashed pipeline — agreement is the no-collision-loss certificate);
    // short docs (< 3 tokens) contribute one partial shingle, matching
    // TextHashKernels.wordShingles
    "x34_source_novelty" ->
      s"""WITH base AS (SELECT source, $tokensSql AS toks
        |  FROM documents),
        |b2 AS (SELECT source, toks, len(toks) AS n FROM base),
        |gr AS (SELECT source, unnest(CASE WHEN n >= 3 THEN
        |      list_transform(range(1, CAST(n AS BIGINT) - 1),
        |        i -> array_to_string(toks[CAST(i AS INT):CAST(i AS INT) + 2], ' '))
        |    ELSE [array_to_string(toks, ' ')] END) AS gram
        |  FROM b2),
        |g AS (SELECT DISTINCT source, gram FROM gr),
        |st AS (SELECT gram, COUNT(*) AS n_src FROM g GROUP BY gram)
        |SELECT g.source, COUNT(*) AS n_grams,
        |  COUNT(CASE WHEN st.n_src = 1 THEN 1 END) AS n_unique,
        |  ROUND(COUNT(CASE WHEN st.n_src = 1 THEN 1 END) / COUNT(*), 6)
        |    AS novelty
        |FROM g JOIN st USING (gram) GROUP BY g.source
        |ORDER BY g.source""".stripMargin,
    "e14_pca_variance" -> e14OracleSql,
    // p5: the identical integer solver — HUGEINT products, // floor
    // division (≡ Spark div on positives), BIGINT outputs, one
    // exactly-representable terminal IEEE division for epochs
    "p5_mixing_plan" ->
      s"""WITH d AS (SELECT source, CAST($tokenCountSql AS BIGINT) AS n_tokens
         |  FROM documents),
         |av AS (SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS avail
         |  FROM d GROUP BY source),
         |au AS (SELECT source, avail,
         |    CAST(regexp_extract(source, '(\\d+)', 1) AS BIGINT) % 4 + 1 AS u
         |  FROM av),
         |tt AS (SELECT CAST(SUM(u) AS BIGINT) AS u_tot FROM au),
         |tc AS (SELECT au.*, tt.u_tot,
         |    CAST((CAST(avail AS HUGEINT) * 4 * u_tot) // u AS BIGINT)
         |      AS t_cap
         |  FROM au, tt),
         |ts AS (SELECT MIN(t_cap) AS t_star FROM tc),
         |fin AS (SELECT tc.*, ts.t_star,
         |    CAST((CAST(u AS HUGEINT) * t_star) // u_tot AS BIGINT)
         |      AS alloc_tokens
         |  FROM tc, ts),
         |f2 AS (SELECT *,
         |    CAST((CAST(alloc_tokens AS HUGEINT) * 1000000) // avail
         |      AS BIGINT) AS epochs_e6
         |  FROM fin)
         |SELECT source, u AS weight_units, avail AS avail_tokens,
         |  alloc_tokens, epochs_e6,
         |  CAST(epochs_e6 AS DOUBLE) / 1000000.0 AS epochs,
         |  t_cap = t_star AS limiting
         |FROM f2 ORDER BY source""".stripMargin,
    "x33_vocab_growth" -> x33OracleSql,
    // x37: the kernel's term sum replayed declaratively — explode to
    // (doc, gram) counts, identical round-9 terms (x24's decimal-sum
    // device, order-free), nanos recovered exactly, the identical
    // two-IEEE-op bits derivation with the SAME pinned ln2 literal
    "x37_entropy" ->
      """WITH ch AS (SELECT doc_id, string_split(text, '') AS cl
        |  FROM documents),
        |ug AS (SELECT doc_id, unnest(cl) AS g FROM ch),
        |uc AS (SELECT doc_id, g, COUNT(*) AS c FROM ug GROUP BY 1, 2),
        |un AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n
        |  FROM uc GROUP BY 1),
        |ue AS (SELECT uc.doc_id,
        |    CAST(SUM(CAST(ROUND((c / n) * ln(c / n), 9) + 0.0
        |      AS DECIMAL(20,9))) * 1000000000 AS BIGINT) AS uni_nanos
        |  FROM uc JOIN un USING (doc_id) GROUP BY uc.doc_id),
        |bi AS (SELECT doc_id, cl,
        |    unnest(generate_series(1, len(cl) - 1)) AS i
        |  FROM ch WHERE len(cl) >= 2),
        |bg AS (SELECT doc_id,
        |    cl[CAST(i AS INT)] || cl[CAST(i AS INT) + 1] AS g FROM bi),
        |bc AS (SELECT doc_id, g, COUNT(*) AS c FROM bg GROUP BY 1, 2),
        |bn AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n
        |  FROM bc GROUP BY 1),
        |be AS (SELECT bc.doc_id,
        |    CAST(SUM(CAST(ROUND((c / n) * ln(c / n), 9) + 0.0
        |      AS DECIMAL(20,9))) * 1000000000 AS BIGINT) AS bi_nanos
        |  FROM bc JOIN bn USING (doc_id) GROUP BY bc.doc_id),
        |j AS (SELECT d.doc_id, CAST(length(d.text) AS INT) AS n_chars_m,
        |    COALESCE(ue.uni_nanos, 0) AS uni_nanos,
        |    COALESCE(be.bi_nanos, 0) AS bi_nanos
        |  FROM documents d LEFT JOIN ue USING (doc_id)
        |  LEFT JOIN be USING (doc_id))
        |SELECT doc_id, n_chars_m, uni_nanos, bi_nanos,
        |  CAST(uni_nanos AS DOUBLE) / -1.0e9 / 0.6931471805599453e0
        |    AS uni_bits,
        |  CAST(bi_nanos AS DOUBLE) / -1.0e9 / 0.6931471805599453e0
        |    AS bi_bits,
        |  CAST(uni_nanos AS DOUBLE) / -1.0e9 / 0.6931471805599453e0 < 3.5
        |    AS low_entropy
        |FROM j ORDER BY doc_id""".stripMargin,
    "e13_diversity" -> e13OracleSql,
    "p3_build_shard" -> p3OracleSql,
    // m5: IFD-walk results recomputed arithmetically — header 8 +
    // IFD0 (2 + n0·12 + 4, n0 = 3 + bits-tag on id%3=0) + thumbnail
    // IFD1 (30 bytes, 2 entries) on id%5≠0 + body
    // m7: footer-walk results recomputed arithmetically — entry i holds
    // base + 7i bytes (base = id%40+10), LFH 30 + name 6, CDE 46 + 6,
    // EOCD 22; cd_offset = Σ locals, integer // for the 7·n(n−1)/2 term
    "m7_zip_parse" ->
      """WITH d AS (SELECT doc_id, doc_id % 3 + 1 AS n,
        |    (doc_id % 3 + 1) * (doc_id % 40 + 10)
        |      + 7 * ((doc_id % 3 + 1) * (doc_id % 3) // 2) AS s
        |  FROM documents)
        |SELECT doc_id, 'zip' AS fmt,
        |  CAST(36 * n + s + 52 * n + 22 AS BIGINT) AS n_bytes,
        |  CAST(n AS INT) AS n_entries,
        |  CAST(s AS BIGINT) AS total_uncomp,
        |  CAST(36 * n + s AS BIGINT) AS cd_offset
        |FROM d ORDER BY doc_id""".stripMargin,
    // m6: box-tree results recomputed arithmetically — ftyp 20 + moov
    // (8 + mvhd 108 + trak 173 each) + mdat (8 + body); duration_ms =
    // duration/timescale exact because duration is planted as
    // base_ms × (timescale/1000); depth always 4 (moov→trak→mdia leaf)
    "m6_mp4_parse" ->
      """SELECT doc_id, 'mp4' AS fmt,
        |  CAST(20 + 8 + 108 + (doc_id % 2 + 1) * 173 + 8
        |    + octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  CAST(doc_id % 640 + 1 AS INT) AS width,
        |  CAST(doc_id % 480 + 1 AS INT) AS height,
        |  CAST(1000 * (doc_id % 5 + 1) AS INT) AS timescale,
        |  CAST(doc_id % 9000 + 1000 AS BIGINT) AS duration_ms,
        |  CAST(doc_id % 2 + 1 AS INT) AS n_tracks,
        |  CAST(4 + 5 * (doc_id % 2 + 1) AS INT) AS n_boxes,
        |  CAST(4 AS INT) AS max_depth
        |FROM documents ORDER BY doc_id""".stripMargin,
    "m5_tiff_parse" ->
      """SELECT doc_id, 'tiff' AS fmt,
        |  CAST(8 + 2 + (3 + CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END) * 12 + 4
        |    + CASE WHEN doc_id % 5 <> 0 THEN 30 ELSE 0 END
        |    + octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  CAST(doc_id % 640 + 1 AS INT) AS width,
        |  CAST(doc_id % 480 + 1 AS INT) AS height,
        |  CAST(doc_id % 8 + 1 AS INT) AS orientation,
        |  CAST(3 + CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END
        |    + CASE WHEN doc_id % 5 <> 0 THEN 2 ELSE 0 END AS INT) AS n_entries,
        |  CAST(CASE WHEN doc_id % 5 <> 0 THEN 2 ELSE 1 END AS INT) AS n_ifds
        |FROM documents ORDER BY doc_id""".stripMargin,
    // m4: marker-walk results recomputed arithmetically — fixed chain
    // is 55 bytes (SOI 2 + APP0 18 + SOF0 19 + SOS 14 + EOI 2), DQT
    // adds 69 on even ids; 2 or 3 segments before the scan
    "m4_jpeg_parse" ->
      """SELECT doc_id, 'jpeg' AS fmt,
        |  CAST(55 + octet_length(encode(text))
        |    + CASE WHEN doc_id % 2 = 0 THEN 69 ELSE 0 END AS BIGINT) AS n_bytes,
        |  CAST(doc_id % 640 + 1 AS INT) AS width,
        |  CAST(doc_id % 480 + 1 AS INT) AS height,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN 3 ELSE 2 END AS INT) AS n_segments
        |FROM documents ORDER BY doc_id""".stripMargin,
    // m3: post-sample metadata recomputed arithmetically — kept =
    // floor((n-1)/2)+1 of n = id%7+2 16-byte frames after a 100-byte
    // header; width/height/fps replay the planted derivations
    "m3_frame_sample" ->
      """SELECT doc_id, 'avi' AS fmt,
        |  CAST(100 + ((doc_id % 7 + 1) // 2 + 1) * 16 AS BIGINT) AS n_bytes,
        |  CAST(doc_id % 640 + 1 AS INT) AS width,
        |  CAST(doc_id % 480 + 1 AS INT) AS height,
        |  CAST((doc_id % 7 + 1) // 2 + 1 AS INT) AS n_frames,
        |  CAST(1000000 // (33333 + (doc_id % 3) * 8334) AS INT) AS fps
        |FROM documents ORDER BY doc_id""".stripMargin,
    // e6: full index replay — d10's centroid pick + spherical argmax
    // assignment, within-cell pairs, per-node ROW_NUMBER top-5 (raw-cos
    // ordering, id tiebreak — bit-identical dots), mutual join
    "e6_knn_graph" ->
      s"""WITH $knnTopkCtes
         |SELECT f.qid AS id_a, f.id AS id_b, ROUND(f.cos, 6) AS cos,
         |  f.rk AS rk_ab, r.rk AS rk_ba
         |FROM topk f JOIN topk r ON f.qid = r.id AND f.id = r.qid
         |WHERE f.qid < f.id ORDER BY id_a, id_b""".stripMargin,
    // e17: the identical directed top-5 chain, in-degrees with the
    // zero spine, exact integer moment sums surfaced as BIGINT, the
    // identical pinned double-op sequence for mean/sd/skew (the x38
    // device — int64->double casts + fixed IEEE op order only)
    "e17_hubness" ->
      s"""WITH $knnTopkCtes,
         |deg AS (SELECT b.vec_id,
         |    CAST(COALESCE(t.c, 0) AS BIGINT) AS d
         |  FROM b LEFT JOIN (SELECT id, COUNT(*) AS c FROM topk
         |    GROUP BY id) t ON b.vec_id = t.id),
         |hist AS (SELECT d, CAST(COUNT(*) AS BIGINT) AS n_vecs
         |  FROM deg GROUP BY d),
         |mom AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(d) AS BIGINT) AS s1,
         |    CAST(SUM(d * d) AS BIGINT) AS s2,
         |    CAST(SUM(d * d * d) AS BIGINT) AS s3 FROM deg),
         |fin AS (SELECT hist.d, hist.n_vecs, n,
         |    CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mean_deg,
         |    CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS e2,
         |    CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE) AS e3
         |  FROM hist, mom)
         |SELECT d AS in_deg, n_vecs,
         |  CAST(n_vecs AS DOUBLE) / CAST(n AS DOUBLE) AS share,
         |  mean_deg,
         |  CASE WHEN e2 - mean_deg * mean_deg > 0.0
         |       THEN sqrt(e2 - mean_deg * mean_deg) END AS sd_deg,
         |  CASE WHEN e2 - mean_deg * mean_deg > 0.0
         |       THEN (e3 - 3.0 * mean_deg * e2
         |             + 2.0 * mean_deg * mean_deg * mean_deg)
         |         / (sqrt(e2 - mean_deg * mean_deg)
         |            * (e2 - mean_deg * mean_deg)) END AS skew_deg
         |FROM fin ORDER BY in_deg""".stripMargin,
    // e18: the identical top-2 cut of the proven chain; exclusion
    // census via the id spine; ln μ terms on the x38 integer-micros
    // grid (round6 → DECIMAL(12,6) hop → ×1e6 BIGINT), d̂ from two
    // pinned IEEE divisions
    "e18_intrinsic_dim" ->
      s"""WITH $knnTopkCtes,
         |p AS (SELECT qid, MAX(CASE WHEN rk = 1 THEN cos END) AS cos1,
         |    MAX(CASE WHEN rk = 2 THEN cos END) AS cos2,
         |    COUNT(*) AS nn
         |  FROM topk WHERE rk <= 2 GROUP BY qid),
         |cls AS (SELECT b.vec_id AS qid,
         |    CASE WHEN p.qid IS NULL OR nn < 2 THEN 'short'
         |         WHEN 1.0 - cos1 <= 0.0 THEN 'dup'
         |         ELSE 'used' END AS cls,
         |    CASE WHEN p.qid IS NOT NULL AND nn = 2
         |        AND 1.0 - cos1 > 0.0 THEN
         |      CAST(CAST(ROUND(ln((1.0 - cos2) / (1.0 - cos1)), 6)
         |        AS DECIMAL(12,6)) * 1000000 AS BIGINT)
         |    ELSE 0 END AS t
         |  FROM b LEFT JOIN p ON b.vec_id = p.qid),
         |ag AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_points,
         |    CAST(COUNT(CASE WHEN cls = 'used' THEN 1 END) AS BIGINT)
         |      AS n_used,
         |    CAST(COUNT(CASE WHEN cls = 'dup' THEN 1 END) AS BIGINT)
         |      AS n_dup,
         |    CAST(COUNT(CASE WHEN cls = 'short' THEN 1 END) AS BIGINT)
         |      AS n_short,
         |    CAST(SUM(t) AS BIGINT) AS sum_lnmu_e6 FROM cls)
         |SELECT n_points, n_used, n_dup, n_short, sum_lnmu_e6,
         |  CASE WHEN sum_lnmu_e6 > 0 THEN CAST(n_used AS DOUBLE)
         |    / (CAST(sum_lnmu_e6 AS DOUBLE) / 1000000.0) END AS id_twonn
         |FROM ag""".stripMargin,
    // x22: full bigram-model replay — same tokenization, same
    // (count desc, key) vocab cuts, same λ=0.75 interpolation and 0.5
    // OOV floor; per-bigram log-probs as 9-decimal DECIMALs so the sum
    // is order-free on both engines
    "x22_bigram_ppl" ->
      s"""WITH base AS (SELECT doc_id, $tokensSql AS toks
        |  FROM documents),
        |ucnt AS (SELECT tok, COUNT(*) AS cnt
        |  FROM (SELECT unnest(toks) AS tok FROM base) GROUP BY 1),
        |tot AS (SELECT SUM(cnt) AS t FROM ucnt),
        |uvocab AS (SELECT tok, cnt FROM ucnt
        |  ORDER BY cnt DESC, tok LIMIT 32),
        |docs2 AS (SELECT doc_id, toks FROM base WHERE len(toks) >= 2),
        |pos AS (SELECT doc_id, toks,
        |    unnest(generate_series(1, len(toks) - 1)) AS i FROM docs2),
        |big AS (SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2 FROM pos),
        |bcnt AS (SELECT w1, w2, COUNT(*) AS bcnt FROM big GROUP BY 1, 2),
        |bvocab AS (SELECT b.w1, b.w2, b.bcnt, u.cnt AS c1
        |  FROM bcnt b JOIN ucnt u ON b.w1 = u.tok
        |  ORDER BY b.bcnt DESC, b.w1, b.w2 LIMIT 64),
        |scored AS (SELECT big.doc_id,
        |    CAST(ROUND(ln(
        |      0.75 * (CASE WHEN bv.bcnt IS NOT NULL
        |        THEN CAST(bv.bcnt AS DOUBLE) / CAST(bv.c1 AS DOUBLE)
        |        ELSE 0.0 END) +
        |      0.25 * (COALESCE(CAST(uv.cnt AS DOUBLE), 0.5) / t)), 9)
        |      AS DECIMAL(18,9)) AS lp
        |  FROM big
        |  LEFT JOIN bvocab bv ON big.w1 = bv.w1 AND big.w2 = bv.w2
        |  LEFT JOIN uvocab uv ON big.w2 = uv.tok, tot)
        |SELECT doc_id, COUNT(*) AS n_bi,
        |  ROUND(-(CAST(CAST(SUM(lp) AS VARCHAR) AS DOUBLE) / COUNT(*)), 6)
        |    AS ln_ppl
        |FROM scored GROUP BY 1 ORDER BY doc_id""".stripMargin,
    // x40: full KN-model replay — same tokenization, same integer
    // count/distinct-count/type-total statistics, the identical pinned
    // P expression (c−D + D·n1v·(n1w/B)) / cv, 9-decimal DECIMAL
    // log-prob sums (order-free), terminal ln_ppl via ONE pinned
    // division (the decimal sum reaches double through VARCHAR — the
    // r11 correctly-rounded-cast device; no terminal exp crosses the
    // gate since the len_k10 ulp finding)
    "x40_kneser_ney" ->
      s"""WITH base AS (SELECT doc_id, $tokensSql AS toks
        |  FROM documents),
        |docs2 AS (SELECT doc_id, toks FROM base WHERE len(toks) >= 2),
        |pos AS (SELECT doc_id, toks,
        |    unnest(generate_series(1, len(toks) - 1)) AS i FROM docs2),
        |big AS (SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2 FROM pos),
        |bcnt AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cvw
        |  FROM big GROUP BY 1, 2),
        |ctx AS (SELECT w1, CAST(SUM(cvw) AS BIGINT) AS cv,
        |    CAST(COUNT(*) AS BIGINT) AS n1v FROM bcnt GROUP BY 1),
        |cont AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS n1w
        |  FROM bcnt GROUP BY 1),
        |btypes AS (SELECT CAST(COUNT(*) AS BIGINT) AS b FROM bcnt),
        |scored AS (SELECT big.doc_id,
        |    CAST(ROUND(ln(
        |      (CAST(cvw AS DOUBLE) - 0.75 +
        |        0.75 * CAST(n1v AS DOUBLE) *
        |          (CAST(n1w AS DOUBLE) / CAST(b AS DOUBLE))) /
        |      CAST(cv AS DOUBLE)), 9) AS DECIMAL(18,9)) AS lp
        |  FROM big
        |  JOIN bcnt ON big.w1 = bcnt.w1 AND big.w2 = bcnt.w2
        |  JOIN ctx ON big.w1 = ctx.w1
        |  JOIN cont ON big.w2 = cont.w2, btypes)
        |SELECT doc_id, COUNT(*) AS n_bi,
        |  ROUND(-(CAST(CAST(SUM(lp) AS VARCHAR) AS DOUBLE) / COUNT(*)), 6)
        |    AS ln_ppl
        |FROM scored GROUP BY 1 ORDER BY doc_id""".stripMargin,
    // d13: rebuild the planted urls and re-canonicalize rule for rule
    // (lowercase scheme/host, default-port strip, fragment drop,
    // tracking-param drop, param sort, trailing-slash strip)
    "d13_url_dedup" ->
      """WITH u AS (SELECT doc_id,
        |    (CASE WHEN doc_id % 2 = 0 THEN 'http' ELSE 'HTTP' END) || '://' ||
        |    (CASE WHEN doc_id % 3 = 0 THEN 'WWW' ELSE 'www' END) ||
        |    '.site' || CAST(doc_id % 7 AS VARCHAR) || '.com' ||
        |    (CASE WHEN doc_id % 4 = 0 THEN ':80' ELSE '' END) ||
        |    '/page/' || CAST(doc_id % 3 AS VARCHAR) ||
        |    (CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END) ||
        |    (CASE WHEN doc_id % 2 = 0
        |       THEN '?utm_source=feed&id=' || CAST(doc_id % 3 AS VARCHAR) || '&b=2'
        |       ELSE '?b=2&id=' || CAST(doc_id % 3 AS VARCHAR) END) ||
        |    (CASE WHEN doc_id % 5 = 0 THEN '#frag' ELSE '' END) AS url
        |  FROM documents),
        |c AS (SELECT doc_id, url,
        |    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#:]+)(:[0-9]+)?([^?#]*)(\?[^#]*)?(#.*)?$', 1)) AS scheme,
        |    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#:]+)(:[0-9]+)?([^?#]*)(\?[^#]*)?(#.*)?$', 2)) AS host,
        |    regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#:]+)(:[0-9]+)?([^?#]*)(\?[^#]*)?(#.*)?$', 3) AS rawport,
        |    regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#:]+)(:[0-9]+)?([^?#]*)(\?[^#]*)?(#.*)?$', 4) AS rawpath,
        |    regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#:]+)(:[0-9]+)?([^?#]*)(\?[^#]*)?(#.*)?$', 5) AS rawq
        |  FROM u),
        |n AS (SELECT doc_id, url,
        |    scheme || '://' || host ||
        |    (CASE WHEN (scheme = 'http' AND rawport = ':80')
        |       OR (scheme = 'https' AND rawport = ':443')
        |       THEN '' ELSE rawport END) ||
        |    (CASE WHEN regexp_replace(rawpath, '/+$', '') = '' THEN '/'
        |       ELSE regexp_replace(rawpath, '/+$', '') END) ||
        |    (CASE WHEN len(ps) > 0
        |       THEN '?' || array_to_string(list_sort(ps), '&') ELSE '' END)
        |      AS canonical_url
        |  FROM (SELECT *,
        |      list_filter(string_split(substr(rawq, 2), '&'),
        |        p -> NOT (starts_with(p, 'utm_') OR starts_with(p, 'fbclid=')
        |          OR starts_with(p, 'gclid=') OR p = '')) AS ps
        |    FROM c))
        |SELECT canonical_url, MIN(doc_id) AS keep_id, COUNT(*) AS n_urls,
        |  COUNT(DISTINCT url) AS n_spellings
        |FROM n GROUP BY 1 ORDER BY canonical_url""".stripMargin,
    // x21: full TF-IDF recompute — same tokenization, same (df desc,
    // tok) vocabulary cut, same smooth-idf arithmetic; ln washed by
    // ROUND(..,6)
    "x21_tfidf" ->
      s"""WITH base AS (SELECT doc_id, $tokensSql AS toks
        |  FROM documents),
        |tok AS (SELECT doc_id, unnest(toks) AS tok FROM base),
        |tfx AS (SELECT doc_id, tok, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
        |vocab AS (SELECT tok, COUNT(*) AS df FROM tfx
        |  GROUP BY 1 ORDER BY df DESC, tok LIMIT 64),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents)
        |SELECT tfx.doc_id, tfx.tok, tfx.tf, vocab.df,
        |  ROUND(CAST(tf AS DOUBLE) *
        |    (ln((CAST(n_docs AS DOUBLE) + 1.0) / (CAST(df AS DOUBLE) + 1.0))
        |      + 1.0), 6) AS tfidf
        |FROM tfx JOIN vocab USING (tok), n
        |ORDER BY doc_id, tok""".stripMargin,
    "s2_ann_lsh" -> s2OracleSql,
    // s7: the unrolled beam search over the proven e6 graph replay
    "s7_graph_ann" -> s7OracleSql,
    // e21: the same chain at 3 hops, four horizon cuts vs brute
    "e21_graph_recall_sweep" -> e21OracleSql,
    // x46: full hashed-classifier replay — same polynomial/mod-chain
    // constants interpolated from HashClassifier, exact BIGINT sums
    "x46_hash_classifier" -> x46OracleSql,
    "e2_random_projection" -> e2OracleSql,
    "e3_kmeans" -> e3OracleSql,
    // e12: BOTH Lloyd chains replayed (e3's proven template, suffixed,
    // salts '' and 'b'), exact-integer contingency/pair-count sums,
    // identical IEEE ARI sequence
    "e12_kmeans_ari" -> e12OracleSql,
    "e16_kcenter_coreset" -> e16OracleSql,
    // x39: identical token filter, per-window list_distinct lengths
    // (exact integers) summed, the identical single terminal division
    // of two int64->double casts
    "x39_mattr" ->
      s"""WITH base AS (SELECT doc_id,
         |    list_filter($tokensSql, t -> t <> '')
         |      AS toks FROM documents),
         |d AS (SELECT doc_id, toks, CAST(len(toks) AS INT) AS n
         |  FROM base),
         |p AS (SELECT doc_id, toks, n, LEAST(25, n) AS wl,
         |    n - LEAST(25, n) + 1 AS nw FROM d),
         |s AS (SELECT doc_id, n, wl, nw,
         |    CAST(len(list_distinct(toks)) AS BIGINT) AS n_types,
         |    CAST(list_sum(list_transform(generate_series(1, nw),
         |      i -> len(list_distinct(toks[i:i+wl-1])))) AS BIGINT)
         |      AS swt
         |  FROM p)
         |SELECT doc_id, CAST(n AS BIGINT) AS n_tokens, n_types,
         |  CAST(wl AS BIGINT) AS win_len, CAST(nw AS BIGINT)
         |    AS n_windows, swt AS sum_win_types,
         |  CASE WHEN n = 0 THEN NULL
         |       ELSE CAST(swt AS DOUBLE) / CAST(nw * wl AS DOUBLE)
         |  END AS mattr
         |FROM s ORDER BY doc_id""".stripMargin,
    // x38: identical rank window, identical round-6 integer-micros
    // terms (all sums BIGINT-exact), the identical pinned double-op
    // regression over int64->double casts (correctly rounded both
    // engines — DuckDB 1.0's scale-18 decimal->double cast is NOT)
    "x38_zipf" ->
      s"""WITH tk AS (SELECT source, tok, COUNT(*) AS c FROM (
         |    SELECT source, unnest($tokensSql) AS tok
         |    FROM documents) WHERE tok <> '' GROUP BY 1, 2),
         |rk AS (SELECT source, c,
         |    ROW_NUMBER() OVER (PARTITION BY source
         |      ORDER BY c DESC, tok ASC) AS rk
         |  FROM tk),
         |tp AS (SELECT source,
         |    CAST(CAST(ROUND(ln(rk), 6) AS DECIMAL(12,6)) * 1000000
         |      AS BIGINT) AS x,
         |    CAST(CAST(ROUND(ln(c), 6) AS DECIMAL(12,6)) * 1000000
         |      AS BIGINT) AS y
         |  FROM rk WHERE rk <= 200),
         |ag AS (SELECT source, COUNT(DISTINCT tok) AS n_vocab
         |  FROM tk GROUP BY source),
         |sm AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS r_used,
         |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         |    CAST(SUM(x * y) AS BIGINT) AS sxy,
         |    CAST(SUM(x * x) AS BIGINT) AS sxx
         |  FROM tp GROUP BY source),
         |fin AS (SELECT sm.source, ag.n_vocab, sm.r_used,
         |    CAST(r_used AS DOUBLE) * CAST(sxy AS DOUBLE)
         |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS num,
         |    CAST(r_used AS DOUBLE) * CAST(sxx AS DOUBLE)
         |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS den,
         |    CAST(sy AS DOUBLE) * CAST(sxx AS DOUBLE)
         |      - CAST(sx AS DOUBLE) * CAST(sxy AS DOUBLE) AS num_b
         |  FROM sm JOIN ag USING (source))
         |SELECT source, n_vocab, r_used,
         |  num / den AS zipf_slope,
         |  num_b / den / 1000000.0 AS zipf_intercept
         |FROM fin ORDER BY source""".stripMargin,
    // x29: identical integer allocation (base // + mod-N remainder
    // ranking), md5-prefix selection, sorted-id fingerprints
    // x30: x2's exact score/token fragments (proven IEEE-identical by
    // x2's hash match) under the same conditional sums; thresholds
    // CAST AS DOUBLE (a bare 0.3 parses as DECIMAL in DuckDB)
    "x30_filter_tradeoff" -> x30OracleSql,
    // p4: d1's digest + x2's score fragments over the same planted
    // corpus; rounded-6 DECIMAL quality sums (e9 device), identical
    // terminal divisions
    // x31: x1's chain templated per half (same profiles, tie-break,
    // cjk), identical char-based halving
    "x31_lang_consistency" -> x31OracleSql,
    // x32: identical dense-filled Laplace table, identical pair terms
    // (x24's round-9 + 0.0 device), exact decimal sums
    "x32_source_drift_matrix" ->
      s"""WITH tk AS (SELECT source, tok FROM (
        |    SELECT source, unnest(string_split(
        |      $normSql, ' ')) AS tok
        |    FROM documents) WHERE tok <> ''),
        |c AS (SELECT source, tok, COUNT(*) AS c FROM tk GROUP BY 1, 2),
        |vocab AS (SELECT DISTINCT tok FROM c),
        |srcs AS (SELECT DISTINCT source FROM c),
        |dense AS (SELECT s.source, v.tok, COALESCE(c.c, 0) AS c
        |  FROM vocab v CROSS JOIN srcs s
        |  LEFT JOIN c ON c.source = s.source AND c.tok = v.tok),
        |tt AS (SELECT source, SUM(c) AS n FROM dense GROUP BY 1),
        |vc AS (SELECT COUNT(*) AS v FROM vocab),
        |p AS (SELECT d.source, d.tok,
        |    CAST(d.c + 1 AS DOUBLE) / CAST(tt.n + vc.v AS DOUBLE) AS p
        |  FROM dense d JOIN tt USING (source) CROSS JOIN vc)
        |SELECT x.source AS src_a, y.source AS src_b,
        |  CAST(SUM(CAST(ROUND(x.p * ln(x.p / y.p), 9) + 0.0
        |    AS DECIMAL(20,9))) AS DOUBLE) AS kl_ab,
        |  CAST(SUM(CAST(ROUND(y.p * ln(y.p / x.p), 9) + 0.0
        |    AS DECIMAL(20,9))) AS DOUBLE) AS kl_ba
        |FROM p x JOIN p y ON x.tok = y.tok AND x.source < y.source
        |GROUP BY 1, 2 ORDER BY src_a, src_b""".stripMargin,
    "p4_corpus_datasheet" ->
      s"""WITH raw AS (SELECT doc_id, lang, text FROM documents),
         |pl AS (SELECT r.doc_id, r.lang,
         |    CASE WHEN r.doc_id % 7 = 3 AND p.text IS NOT NULL
         |         THEN p.text ELSE r.text END AS text
         |  FROM raw r LEFT JOIN raw p ON p.doc_id = r.doc_id - 1),
         |q AS (SELECT doc_id, lang, sha256($normSql) AS digest,
         |    CAST($tokenCountSql AS BIGINT) AS n_tokens,
         |    CAST(ROUND($qScoreSql, 6) AS DECIMAL(12,6)) AS q6
         |  FROM pl),
         |dup AS (SELECT digest FROM q GROUP BY digest HAVING COUNT(*) >= 2),
         |fl AS (SELECT lang, COUNT(*) AS n_dup_docs FROM q
         |  WHERE digest IN (SELECT digest FROM dup) GROUP BY lang),
         |tt AS (SELECT SUM(n_tokens) AS tok_all FROM q),
         |g AS (SELECT lang, COUNT(*) AS n_docs,
         |    CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
         |    CAST(SUM(q6) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
         |      AS mean_quality
         |  FROM q GROUP BY lang)
         |SELECT g.lang, g.n_docs, g.n_tokens,
         |  CAST(g.n_tokens AS DOUBLE) / CAST(tt.tok_all AS DOUBLE)
         |    AS tok_share,
         |  g.mean_quality, COALESCE(fl.n_dup_docs, 0) AS n_dup_docs
         |FROM g CROSS JOIN tt LEFT JOIN fl USING (lang)
         |ORDER BY g.lang""".stripMargin,
    "x29_stratified_split" ->
      """WITH d AS (SELECT doc_id, lang, source FROM documents),
        |st AS (SELECT lang, source, COUNT(*) AS n_docs FROM d GROUP BY 1, 2),
        |tt AS (SELECT SUM(n_docs) AS nn FROM st),
        |al AS (SELECT lang, source, n_docs,
        |    (n_docs * 100) // nn AS base, (n_docs * 100) % nn AS rem,
        |    ROW_NUMBER() OVER (ORDER BY (n_docs * 100) % nn DESC,
        |      lang, source) AS rk
        |  FROM st, tt),
        |lo AS (SELECT 100 - SUM(base) AS lo FROM al),
        |a2 AS (SELECT lang, source, n_docs,
        |    CAST(least(n_docs, base
        |      + CASE WHEN rk <= lo.lo THEN 1 ELSE 0 END) AS BIGINT)
        |      AS allocated
        |  FROM al, lo),
        |rn AS (SELECT d.*, ROW_NUMBER() OVER (PARTITION BY lang, source
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn FROM d),
        |sel AS (SELECT r.lang, r.source, r.doc_id
        |  FROM rn r JOIN a2 USING (lang, source)
        |  WHERE r.rn <= a2.allocated),
        |ag AS (SELECT lang, source, COUNT(*) AS n_selected,
        |    md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id))
        |      AS sel_md5
        |  FROM sel GROUP BY 1, 2)
        |SELECT a2.lang, a2.source, a2.n_docs, a2.allocated,
        |  COALESCE(ag.n_selected, 0) AS n_selected,
        |  COALESCE(ag.sel_md5, md5('')) AS sel_md5
        |FROM a2 LEFT JOIN ag USING (lang, source)
        |ORDER BY lang, source""".stripMargin,
    "e9_silhouette" -> e9OracleSql,
    "e5_pca_project" -> e5OracleSql,
    "x20_bpe_train" -> x20OracleSql,
    "x23_bpe_encode" -> x23OracleSql,
    // d12: all-pairs-in-block string-gram ground truth (the d4 oracle
    // shape with the asymmetric metric); Spark's hashed-gram merge scan
    // must agree exactly
    "d12_containment" ->
      s"""WITH corpus AS (
        |  SELECT doc_id, text, source FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id,
        |    array_to_string(ws[1:CAST(CEIL(len(ws)/2.0) AS INT)], ' ') AS text,
        |    source
        |  FROM (SELECT doc_id, string_split(text, ' ') AS ws, source
        |        FROM documents)),
        |b AS (SELECT doc_id AS id, source, substr(text, 1, 12) AS pfx,
        |    $charGramsSql AS g
        |  FROM (SELECT doc_id, source, text,
        |          $normSql AS nt
        |        FROM corpus)),
        |j AS (SELECT a.id AS ia, bb.id AS ib,
        |    CAST(len(list_intersect(a.g, bb.g)) AS DOUBLE) AS common,
        |    CAST(len(a.g) AS DOUBLE) AS la, CAST(len(bb.g) AS DOUBLE) AS lb
        |  FROM b a JOIN b bb ON a.source = bb.source AND a.pfx = bb.pfx
        |    AND a.id < bb.id
        |  WHERE len(a.g) > 0 AND len(bb.g) > 0)
        |SELECT CASE WHEN common / la >= common / lb THEN ia ELSE ib END
        |    AS contained_id,
        |  CASE WHEN common / la >= common / lb THEN ib ELSE ia END
        |    AS container_id,
        |  ROUND(CASE WHEN common / la >= common / lb THEN common / la
        |        ELSE common / lb END, 6) AS containment
        |FROM j WHERE greatest(common / la, common / lb) >= 0.8
        |ORDER BY contained_id, container_id""".stripMargin,
    // d11: hamming ground truth via an INDEPENDENT pigeonhole blocking
    // — blocks 1-6/7-11/12-16 (ham <= 2 over 3 blocks leaves >= 1 block
    // untouched, so candidate generation is provably complete; a
    // theorem, not an implementation echo), deliberately different
    // boundaries than the engine's floor(i*16/3) slices (5/5/6 at
    // Dedup.fuzzyHammingJoin). Replaces the N×N cross join that
    // exceeded the oracle budget at sf0.1 (15k×15k pairs); verified
    // bit-identical to the all-pairs form at sf0.01/sf0.001.
    // d14: all-pairs levenshtein ground truth — the blocked join's
    // recall proof; the corrupted copy replays the identical string
    // surgery (1-based substr on both engines)
    "d14_edit_join" ->
      """WITH sup AS (SELECT s_suppkey AS id, s_name AS nm FROM supplier),
        |corr AS (SELECT id + 1000000 AS id,
        |    CASE WHEN id % 2 = 1 THEN substr(nm, 1, length(nm) - 1)
        |      ELSE substr(nm, 1, 8) || 'X' || substr(nm, 10) END AS nm
        |  FROM sup),
        |u AS (SELECT * FROM sup UNION ALL SELECT * FROM corr)
        |SELECT a.id AS id_a, b.id AS id_b,
        |  CAST(levenshtein(a.nm, b.nm) AS BIGINT) AS dist
        |FROM u a JOIN u b ON a.id < b.id
        |WHERE levenshtein(a.nm, b.nm) <= 1
        |ORDER BY id_a, id_b""".stripMargin,
    "d11_fuzzy_join" ->
      """WITH c0 AS (SELECT c_custkey,
        |    substr(md5(CAST(c_custkey AS VARCHAR)), 1, 16) AS base
        |  FROM customer),
        |a AS (SELECT c_custkey AS a_id, base AS a_name FROM c0),
        |p AS (SELECT c_custkey, CAST(1 + c_custkey % 16 AS INT) AS p1,
        |    CAST(1 + (c_custkey + 5) % 16 AS INT) AS p2, base
        |  FROM c0),
        |n1 AS (SELECT c_custkey, p2,
        |    substr(base, 1, p1 - 1) || 'X' || substr(base, p1 + 1) AS n1
        |  FROM p),
        |b AS (SELECT c_custkey + 1000000 AS b_id,
        |    CASE WHEN c_custkey % 2 = 0
        |      THEN substr(n1, 1, p2 - 1) || 'Y' || substr(n1, p2 + 1)
        |      ELSE n1 END AS b_name
        |  FROM n1),
        |ak AS (SELECT a_id, a_name,
        |    unnest([struct_pack(i := 1, s := substr(a_name, 1, 6)),
        |            struct_pack(i := 2, s := substr(a_name, 7, 5)),
        |            struct_pack(i := 3, s := substr(a_name, 12, 5))]) AS k
        |  FROM a),
        |bk AS (SELECT b_id, b_name,
        |    unnest([struct_pack(i := 1, s := substr(b_name, 1, 6)),
        |            struct_pack(i := 2, s := substr(b_name, 7, 5)),
        |            struct_pack(i := 3, s := substr(b_name, 12, 5))]) AS k
        |  FROM b),
        |cand AS (SELECT DISTINCT a_id, a_name, b_id, b_name
        |  FROM ak JOIN bk ON ak.k = bk.k
        |    AND length(a_name) = length(b_name)),
        |h AS (SELECT a_id, b_id,
        |    len(list_filter(generate_series(1, length(a_name)),
        |      i -> substr(a_name, i, 1) <> substr(b_name, i, 1))) AS ham
        |  FROM cand)
        |SELECT a_id, b_id, CAST(ham AS INT) AS dist
        |FROM h WHERE ham <= 2 ORDER BY a_id, b_id""".stripMargin,
    // x19: full model replay — same md5 buckets, same smoothing, the
    // per-bucket log-ratio rounded to 6 and summed as exact DECIMALs so
    // the per-doc sum is order-free on both engines
    "x19_dsir" -> {
      val hexVal = (1 to 4).map(i =>
        s"(strpos('0123456789abcdef', substr(md5(g), $i, 1)) - 1) * ${math.pow(16, 4 - i).toLong}")
        .mkString(" + ")
      s"""WITH w AS (SELECT doc_id, lang = 'en' AS tgt,
         |    string_split(text, ' ') AS ws FROM documents),
         |g0 AS (SELECT doc_id, tgt,
         |    unnest(ws || CASE WHEN len(ws) >= 2
         |      THEN list_transform(generate_series(1, len(ws) - 1),
         |        i -> ws[i] || ' ' || ws[i+1])
         |      ELSE []::VARCHAR[] END) AS g
         |  FROM w),
         |gb AS (SELECT doc_id, tgt, CAST(($hexVal) % 256 AS INT) AS b FROM g0),
         |cnt AS (SELECT b, COUNT(*) AS cr,
         |    COUNT(CASE WHEN tgt THEN 1 END) AS ct
         |  FROM gb GROUP BY b),
         |fb AS (SELECT unnest(generate_series(0, 255)) AS b),
         |fullb AS (SELECT fb.b, COALESCE(cr, 0) AS cr, COALESCE(ct, 0) AS ct
         |  FROM fb LEFT JOIN cnt ON fb.b = cnt.b),
         |tot AS (SELECT SUM(cr) AS tr, SUM(ct) AS tt FROM fullb),
         |lam AS (SELECT b,
         |    CAST(ROUND(ln(((ct + 1.0) / (tt + 256.0)) /
         |      ((cr + 1.0) / (tr + 256.0))), 6) AS DECIMAL(16,6)) AS lam
         |  FROM fullb, tot),
         |sc AS (SELECT doc_id, COUNT(*) AS n_grams,
         |    CAST(SUM(lam) AS DOUBLE) AS logw
         |  FROM gb JOIN lam USING (b) GROUP BY doc_id)
         |SELECT doc_id, n_grams, logw, logw > 0 AS selected
         |FROM sc ORDER BY doc_id""".stripMargin
    },
    // x18: the same planted construction + rule formulas; every ratio is
    // one division of exact integer counts, so doubles agree bit-exact
    "x18_gopher_rules" ->
      """WITH w0 AS (SELECT doc_id, string_split(text, ' ') AS ws0
        |  FROM documents),
        |s0 AS (SELECT doc_id,
        |    list_transform(generate_series(0, CAST(CEIL(len(ws0)/10.0) AS INT) - 1),
        |      i -> array_to_string(ws0[(i*10+1):(i*10+10)], ' ')) AS segs
        |  FROM w0),
        |s1 AS (SELECT doc_id, CASE WHEN doc_id % 17 = 0
        |      THEN list_transform(segs, l -> '- ' || l) ELSE segs END AS segs
        |  FROM s0),
        |s2 AS (SELECT doc_id, CASE WHEN doc_id % 19 = 0
        |      THEN list_transform(segs, l -> l || '...') ELSE segs END AS segs
        |  FROM s1),
        |m AS (SELECT doc_id, array_to_string(segs, chr(10)) ||
        |      CASE WHEN doc_id % 11 = 0
        |        THEN ' # # # # # # # # # # # # # # #' ELSE '' END AS mtext
        |  FROM s2),
        |st AS (SELECT doc_id, mtext,
        |    string_split_regex(mtext, '\s+') AS aw,
        |    string_split(mtext, chr(10)) AS lines
        |  FROM m),
        |sig AS (SELECT doc_id,
        |    CAST(len(aw) AS BIGINT) AS n_words,
        |    CAST(list_sum(list_transform(aw, w -> length(w))) AS DOUBLE)
        |      / CAST(len(aw) AS DOUBLE) AS mean_word_len,
        |    (CAST(length(mtext) - length(replace(mtext, '#', '')) AS DOUBLE)
        |      + (length(mtext) - length(replace(mtext, '...', ''))) / 3)
        |      / CAST(len(aw) AS DOUBLE) AS symbol_ratio,
        |    CAST(len(list_filter(lines, l -> l LIKE '- %')) AS DOUBLE)
        |      / CAST(len(lines) AS DOUBLE) AS frac_bullet_lines,
        |    CAST(len(list_filter(lines, l -> l LIKE '%...')) AS DOUBLE)
        |      / CAST(len(lines) AS DOUBLE) AS frac_ellipsis_lines,
        |    CAST(len(list_filter(aw, w -> regexp_matches(w, '[A-Za-z]'))) AS DOUBLE)
        |      / CAST(len(aw) AS DOUBLE) AS frac_alpha_words,
        |    CAST(len(list_filter(['the','be','to','of','and','that','have','with'],
        |      sw -> list_contains(aw, sw))) AS BIGINT) AS n_stop
        |  FROM st)
        |SELECT doc_id, n_words, mean_word_len, symbol_ratio,
        |  frac_bullet_lines, frac_ellipsis_lines, frac_alpha_words, n_stop,
        |  n_words BETWEEN 50 AND 100000 AS r_word_count,
        |  mean_word_len BETWEEN 3.0 AND 10.0 AS r_mean_word_len,
        |  symbol_ratio <= 0.1 AS r_symbol,
        |  frac_bullet_lines <= 0.9 AS r_bullet,
        |  frac_ellipsis_lines <= 0.3 AS r_ellipsis,
        |  frac_alpha_words >= 0.8 AS r_alpha,
        |  n_stop >= 2 AS r_stop,
        |  (n_words BETWEEN 50 AND 100000) AND (mean_word_len BETWEEN 3.0 AND 10.0)
        |    AND symbol_ratio <= 0.1 AND frac_bullet_lines <= 0.9
        |    AND frac_ellipsis_lines <= 0.3 AND frac_alpha_words >= 0.8
        |    AND n_stop >= 2 AS keep
        |FROM sig ORDER BY doc_id""".stripMargin,
    // x17: same segmentation + first-occurrence ownership replayed with
    // a window; md5 of identical reconstructed bytes agrees
    "x17_line_dedup" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, text FROM documents),
        |w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM corpus),
        |seg0 AS (SELECT doc_id, ws,
        |    unnest(generate_series(0, CAST(CEIL(len(ws)/10.0) AS INT) - 1))
        |      AS line_no
        |  FROM w),
        |seg AS (SELECT doc_id, line_no,
        |    array_to_string(ws[(line_no*10+1):(line_no*10+10)], ' ') AS line
        |  FROM seg0),
        |rk AS (SELECT doc_id, line_no, line,
        |    ROW_NUMBER() OVER (PARTITION BY md5(line)
        |      ORDER BY doc_id, line_no) AS rn
        |  FROM seg)
        |SELECT doc_id, COUNT(*) AS n_lines,
        |  COUNT(CASE WHEN rn = 1 THEN 1 END) AS n_kept,
        |  md5(COALESCE(string_agg(CASE WHEN rn = 1 THEN line END, chr(10)
        |    ORDER BY line_no), '')) AS kept_md5
        |FROM rk GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // x16: same pipeline via DuckDB's ICU functions — strip_accents
    // removes exactly the combining marks the NFD pass removes for
    // decomposable accents, so the normalized bytes (and their md5)
    // agree
    "x16_unicode_normalize" ->
      """WITH p AS (SELECT doc_id,
        |    text || '  CafÉ  ZÜrich   NIÑO façade à ö  ' AS text
        |  FROM documents),
        |n AS (SELECT doc_id, length(text) AS n_raw,
        |    regexp_replace(trim(lower(strip_accents(nfc_normalize(text)))),
        |      '\s+', ' ', 'g') AS nt
        |  FROM p)
        |SELECT doc_id, md5(nt) AS norm_md5, CAST(n_raw AS INT) AS n_raw,
        |  CAST(length(nt) AS INT) AS n_norm
        |FROM n ORDER BY doc_id""".stripMargin,
    // e4: covariance recomputed per pair via AVG; round-6 washes the
    // summation-order wobble on both sides (the e1 precedent)
    "e4_covariance" ->
      s"""WITH $momentCtes
        |SELECT i - 1 AS dim_i, j - 1 AS dim_j,
        |  ROUND(exy - ex * ey, 6) + 0.0 AS cov
        |FROM m ORDER BY dim_i, dim_j""".stripMargin,
    // e19: e4's proven round-6 entries lifted to integer micros (x38
    // decimal hop), BIGINT trace/Frobenius sums, pinned int64→double
    // product + division; /64 is an exact power-of-two scaling
    "e19_effective_rank" ->
      s"""WITH $momentCtes,
        |c AS (SELECT i, j,
        |    CAST(CAST(ROUND(exy - ex * ey, 6) + 0.0 AS DECIMAL(18,6))
        |      * 1000000 AS BIGINT) AS c6 FROM m),
        |ag AS (SELECT
        |    CAST(SUM(CASE WHEN i = j THEN c6 ELSE 0 END) AS BIGINT)
        |      AS tr_e6,
        |    CAST(SUM(c6 * c6 * CASE WHEN i = j THEN 1 ELSE 2 END)
        |      AS BIGINT) AS fro2_e12
        |  FROM c)
        |SELECT 64 AS n_dims, tr_e6, fro2_e12,
        |  CAST(tr_e6 AS DOUBLE) / 1000000.0 AS trace,
        |  CASE WHEN fro2_e12 > 0 THEN CAST(tr_e6 AS DOUBLE)
        |    * CAST(tr_e6 AS DOUBLE) / CAST(fro2_e12 AS DOUBLE)
        |  END AS eff_rank,
        |  CASE WHEN fro2_e12 > 0 THEN CAST(tr_e6 AS DOUBLE)
        |    * CAST(tr_e6 AS DOUBLE) / CAST(fro2_e12 AS DOUBLE) / 64.0
        |  END AS eff_rank_frac
        |FROM ag""".stripMargin,
    // e8: e4's moment CTE normalized by the diagonal — corr(i,j) =
    // (E[xy] − ExEy) / sqrt(var_i · var_j), the identical IEEE
    // sequence as the Spark side (cov first, variance product under
    // one sqrt), NULL on zero variance, round-6 + 0.0
    "e8_corr_matrix" ->
      s"""WITH $momentCtes,
        |vr AS (SELECT i, exy - ex * ey AS var FROM m WHERE i = j)
        |SELECT m.i - 1 AS dim_i, m.j - 1 AS dim_j,
        |  ROUND(CASE WHEN vi.var * vj.var <= 0.0 THEN NULL
        |    ELSE (m.exy - m.ex * m.ey) / sqrt(vi.var * vj.var) END, 6) + 0.0
        |    AS corr
        |FROM m JOIN vr vi ON m.i = vi.i JOIN vr vj ON m.j = vj.i
        |ORDER BY dim_i, dim_j""".stripMargin,
    // SemDeDup replayed end to end: md5-order centroid sample,
    // spherical cell assignment (rn = 1 over -cos ASC, cid ASC),
    // within-cell pairs, min-id verdict. Every float op is the same
    // IEEE sequence as the Spark side, so the 0.95 cut is exact.
    "d10_semantic_dedup" ->
      s"""WITH ${embCte("emb0")},
        |corpus AS (SELECT vec_id, v FROM emb0
        |  UNION ALL SELECT vec_id + 100000, v FROM emb0 WHERE vec_id < 40),
        |cent AS (SELECT vec_id AS cid, v AS cv,
        |    sqrt(list_inner_product(v, v)) AS nc FROM corpus
        |  ORDER BY $md5OrderSql LIMIT 16),
        |b AS (SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS nv FROM corpus),
        |$cosineAssignCte,
        |hits AS (SELECT bb.vec_id AS id_b, a.vec_id AS id_a,
        |    CASE WHEN a.nv * bb.nv = 0.0 THEN 0.0
        |         ELSE list_inner_product(a.v, bb.v) / (a.nv * bb.nv) END AS cos
        |  FROM assign a JOIN assign bb
        |    ON a.cell = bb.cell AND a.vec_id < bb.vec_id),
        |hit AS (SELECT id_b, id_a, cos FROM hits WHERE cos >= 0.95),
        |best AS (SELECT id_b, id_a, cos,
        |    ROW_NUMBER() OVER (PARTITION BY id_b ORDER BY id_a) AS rn FROM hit)
        |SELECT c.vec_id, a.cell, h.id_a IS NOT NULL AS is_dup,
        |  h.id_a AS dup_of, ROUND(h.cos, 6) AS cos
        |FROM (SELECT vec_id FROM corpus) c
        |JOIN (SELECT vec_id, cell FROM assign) a USING (vec_id)
        |LEFT JOIN (SELECT * FROM best WHERE rn = 1) h ON h.id_b = c.vec_id
        |ORDER BY c.vec_id""".stripMargin,
    // e1: centroid recomputed per (label, dim) via AVG then rounded to
    // 6 decimals — the SAME pre-rounding the Spark side applies, so the
    // cosine arithmetic downstream is bit-identical (list_inner_product
    // == ArrayDotProduct, left-to-right)
    "e1_embed_outliers" ->
      s"""WITH ve AS (SELECT vec_id, label,
        |    $embVecSql AS v
        |  FROM embeddings),
        |u AS (SELECT label, vec_id, i, v[CAST(i AS INT)] AS x
        |  FROM ve, (SELECT unnest(range(1, 65)) AS i) t),
        |cent AS (SELECT label, i, ROUND(AVG(x), 6) AS c
        |  FROM u GROUP BY label, i),
        |cl AS (SELECT label, list(c ORDER BY i) AS cent FROM cent GROUP BY label),
        |sc AS (SELECT ve.vec_id, ve.label,
        |    CASE WHEN sqrt(list_inner_product(ve.v, ve.v)) *
        |              sqrt(list_inner_product(cl.cent, cl.cent)) = 0.0 THEN 0.0
        |         ELSE ROUND(list_inner_product(ve.v, cl.cent) /
        |           (sqrt(list_inner_product(ve.v, ve.v)) *
        |            sqrt(list_inner_product(cl.cent, cl.cent))), 6) END AS cos_centroid
        |  FROM ve JOIN cl USING (label))
        |SELECT vec_id, label, cos_centroid, cos_centroid < 0.0 AS is_outlier
        |FROM sc ORDER BY vec_id""".stripMargin,
    "s3_ann_ivf" -> s3OracleSql,
    "e10_ivf_recall_sweep" -> e10OracleSql,
    "s5_ann_pq" -> s5OracleSql,
    "d3_simhash" -> d3OracleSql,
    "d1_exact_dedup" ->
      s"""WITH all_docs AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL SELECT doc_id + 1000000, text FROM documents)
         |SELECT sha256($normSql) AS digest, MIN(doc_id) AS keep_id,
         |  COUNT(*) AS n_copies
         |FROM all_docs GROUP BY 1 ORDER BY keep_id""".stripMargin,
    // minhash LSH vs exact ground truth: jaccard on hashed shingle sets
    // == jaccard on the shingle STRINGS (hash-independent set sizes).
    // The oracle enumerates every pair sharing >= 1 gram via an
    // inverted gram index (lossless for J >= 0.5 — see d2PairCtes) and
    // verifies the exact Jaccard. The Spark side runs the banded-LSH
    // plan, so a hash-match is also a 100%-recall proof.
    // (shared WITH chain: d2PairCtes)
    "d2_minhash_lsh" ->
      s"""$d2PairCtes
        |SELECT id_a, id_b, ROUND(common / (sz - common), 6) AS jaccard
        |FROM j WHERE common / (sz - common) >= 0.5 ORDER BY id_a, id_b""".stripMargin,
    // decontamination recomputed on shingle STRINGS (the Spark side
    // joins xxhash64 grams; intersection counts agree modulo hash
    // collisions, the d2 precedent). Short docs (< 13 words) fall back
    // to one whole-text partial gram on both engines.
    // p1: the composed pipeline replayed from its already-proven
    // pieces — d1's md5 keep-min dup verdict, d7's 13-gram eval
    // overlap, x2's token count + quality score (verbatim fragments),
    // with the same drop-reason precedence CASE as the Spark side.
    // p6: p1's proven verdict replay nested as a CTE (the p3 device) +
    // x1's langId fragment on the base docs (copies share text, so the
    // prediction joins through the base id), then the exact-integer
    // funnel fold on the 5-row stage table
    "p6_curation_funnel" ->
      s"""WITH verd AS (
        |$p1OracleSql
        |),
        |lb AS (
        |  SELECT doc_id,
        |    $tokensSql AS toks,
        |    ${cjkRatioSql("text")} AS cjk
        |  FROM documents),
        |ls AS (
        |  SELECT doc_id, cjk,
        |    $stopScoresSql
        |  FROM lb),
        |lp AS (
        |  SELECT doc_id,
        |    CASE WHEN cjk > 0.3 THEN 'zh'
        |         WHEN greatest(s_en, s_de, s_es, s_fr) > 0.0 THEN
        |           CASE WHEN s_en >= greatest(s_de, s_es, s_fr) THEN 'en'
        |                WHEN s_de >= greatest(s_es, s_fr) THEN 'de'
        |                WHEN s_es >= s_fr THEN 'es'
        |                ELSE 'fr' END
        |         ELSE 'und' END AS pred
        |  FROM ls),
        |staged AS (
        |  SELECT v.doc_id,
        |    CASE WHEN v.drop_reason = 'dup' THEN 1
        |         WHEN v.drop_reason = 'contaminated' THEN 2
        |         WHEN v.drop_reason = 'low_quality' THEN 3
        |         WHEN v.drop_reason = 'length' THEN 4
        |         WHEN l.pred <> 'en' THEN 5
        |         ELSE 99 END AS fs
        |  FROM verd v JOIN lp l
        |    ON l.doc_id = CASE WHEN v.doc_id >= 1000000
        |                       THEN v.doc_id - 1000000 ELSE v.doc_id END),
        |drops AS (SELECT fs AS stage, COUNT(*) AS n FROM staged
        |  WHERE fs <= 5 GROUP BY fs),
        |stages(stage, stage_name) AS (VALUES
        |  (1, 'exact_dup'), (2, 'contaminated'), (3, 'low_quality'),
        |  (4, 'length'), (5, 'non_english')),
        |tot AS (SELECT COUNT(*) AS t FROM staged),
        |f AS (SELECT s.stage, s.stage_name,
        |    CAST(COALESCE(d.n, 0) AS BIGINT) AS n FROM stages s
        |  LEFT JOIN drops d ON d.stage = s.stage)
        |SELECT stage, stage_name,
        |  CAST(t - COALESCE(SUM(n) OVER (ORDER BY stage
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    AS BIGINT) AS n_in,
        |  n AS n_drop,
        |  CAST(t - COALESCE(SUM(n) OVER (ORDER BY stage
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) - n
        |    AS BIGINT) AS n_out
        |FROM f CROSS JOIN tot ORDER BY stage""".stripMargin,
    // p7: full replay — d2's exact pairwise-Jaccard ground truth (the
    // same inverted-gram-index device d2PairCtes documents: lossless
    // for J >= 0.5 since any qualifying pair shares a gram) + x29's
    // Hamilton allocation at k = N div 10 + the boundary quarantine;
    // every count crosses the gate as BIGINT
    "p7_leakage_free_split" ->
      s"""WITH all_docs AS (
        |  SELECT doc_id, text, lang, source FROM documents
        |  UNION ALL SELECT doc_id + 1000000, text || ' zz qq', lang, source
        |  FROM documents),
        |${shingleCte("b", 2, "all_docs")},
        |$jaccardPairCtes,
        |pr AS (SELECT id_a, id_b FROM j WHERE common / (sz - common) >= 0.5),
        |st AS (SELECT lang, source, COUNT(*) AS n_docs FROM all_docs GROUP BY 1, 2),
        |tt AS (SELECT SUM(n_docs) AS nn, SUM(n_docs) // 10 AS k FROM st),
        |al AS (SELECT lang, source, n_docs, k,
        |    (n_docs * k) // nn AS base, (n_docs * k) % nn AS rem,
        |    ROW_NUMBER() OVER (ORDER BY (n_docs * k) % nn DESC, lang, source) AS rk
        |  FROM st, tt),
        |lo AS (SELECT MAX(k) - SUM(base) AS lo FROM al),
        |a2 AS (SELECT lang, source, n_docs,
        |    least(n_docs, base + CASE WHEN rk <= lo.lo THEN 1 ELSE 0 END)
        |      AS allocated
        |  FROM al, lo),
        |rn AS (SELECT doc_id, lang, source,
        |    ROW_NUMBER() OVER (PARTITION BY lang, source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM all_docs),
        |sides AS (SELECT r.doc_id, r.lang, r.source,
        |    r.rn <= a2.allocated AS is_test
        |  FROM rn r JOIN a2 USING (lang, source)),
        |tst AS (SELECT doc_id FROM sides WHERE is_test),
        |touched AS (
        |  SELECT DISTINCT u.oid AS doc_id FROM (
        |    SELECT id_a AS tid, id_b AS oid FROM pr
        |    UNION ALL SELECT id_b, id_a FROM pr) u
        |  JOIN tst ON u.tid = tst.doc_id),
        |quar AS (SELECT s.lang, s.source, s.doc_id
        |  FROM touched t JOIN sides s ON s.doc_id = t.doc_id AND NOT s.is_test),
        |qa AS (SELECT lang, source, COUNT(*) AS n_q,
        |    md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)) AS qmd5
        |  FROM quar GROUP BY 1, 2)
        |SELECT a2.lang, a2.source, CAST(a2.n_docs AS BIGINT) AS n_docs,
        |  CAST(a2.allocated AS BIGINT) AS n_test,
        |  CAST(a2.n_docs - a2.allocated AS BIGINT) AS n_train,
        |  CAST(COALESCE(qa.n_q, 0) AS BIGINT) AS n_quarantined,
        |  CAST(a2.n_docs - a2.allocated - COALESCE(qa.n_q, 0) AS BIGINT) AS n_kept,
        |  COALESCE(qa.qmd5, md5('')) AS quarantine_md5
        |FROM a2 LEFT JOIN qa USING (lang, source)
        |ORDER BY lang, source""".stripMargin,
    "p1_curate" -> p1OracleSql,
    // p2: incremental ≡ full-run restricted to the batch — the oracle
    // IS p1's with the batch-id filter (equivalence also spec-asserted
    // in StreamingSpec's S9 batch twin)
    "p2_curate_incremental" -> p1OracleSql.replace("ORDER BY v.doc_id",
      "WHERE v.doc_id >= 1000000 ORDER BY v.doc_id"),

    "d7_decontaminate" ->
      s"""WITH corpus AS (
        |$perturbedCopiesSql
        |  WHERE doc_id < 20),
        |${shingleCte("cg", 12, "corpus")},
        |eg AS (SELECT DISTINCT unnest(sh) AS g FROM cg WHERE doc_id < 20),
        |dg AS (SELECT doc_id, unnest(sh) AS g FROM cg),
        |hits AS (SELECT doc_id, COUNT(*) AS n_hits
        |  FROM dg JOIN eg USING (g) GROUP BY doc_id)
        |SELECT c.doc_id, COALESCE(h.n_hits, 0) AS n_hits,
        |  COALESCE(h.n_hits, 0) > 0 AS contaminated
        |FROM (SELECT doc_id FROM corpus) c LEFT JOIN hits h USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    // corpus-internal dup spans recomputed on shingle STRINGS (the d7
    // precedent): per-doc DISTINCT 13-grams (shingleHashes dedupes),
    // document frequency > 1 marks the shared vocabulary, and each
    // doc counts how many of its grams are in it. Exact copies of
    // docs < 20 land shared_frac = 1; the 5-word-prefixed copies of
    // 20-39 share only interior grams.
    "d8_dup_spans" ->
      s"""WITH corpus AS (
        |$plantedDocsSql),
        |${shingleCte("cg", 12, "corpus")},
        |dg AS (SELECT doc_id, unnest(sh) AS g FROM cg),
        |dupg AS (SELECT g FROM dg GROUP BY g HAVING COUNT(*) > 1),
        |shr AS (SELECT doc_id, COUNT(*) AS n_shared
        |  FROM dg JOIN dupg USING (g) GROUP BY doc_id)
        |SELECT c.doc_id, CAST(len(c.sh) AS BIGINT) AS n_grams,
        |  COALESCE(s.n_shared, 0) AS n_shared,
        |  ROUND(COALESCE(s.n_shared, 0) / CAST(len(c.sh) AS DOUBLE), 6) AS shared_frac
        |FROM cg c LEFT JOIN shr s USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    // d20: the suffix-array semantics replayed on gram STRINGS (no
    // hashes — an engine-side xxhash64 collision would surface as a
    // mismatch here): positional 13-gram equality join, diagonal
    // islands via the pos - row_number device, island size + 12 =
    // maximal span length. Same planted corpus as d8.
    // (shared WITH chain: d20SpanCtes)
    "d20_exact_substrings" ->
      s"""$d20SpanCtes
        |SELECT id_a, id_b, CAST(MIN(pos_a) AS BIGINT) AS start_a,
        |  CAST(MIN(pos_b) AS BIGINT) AS start_b,
        |  CAST(COUNT(*) + 12 AS BIGINT) AS span_tokens
        |FROM isl GROUP BY id_a, id_b, diag, island
        |ORDER BY id_a, id_b, start_a, start_b""".stripMargin,
    // d21: d20's span chain + the removal replay — later (b-side)
    // occurrences cut, per-doc interval UNION via the same
    // max-over-preceding island device the Spark side's
    // Intervals.merge uses (ordered by (s, e) on both engines), kept
    // tokens re-assembled in position order and compared VERBATIM
    "d21_substring_removal" -> d21RemovalSql,
    // d23: the OWNED (pair-free) removal must produce the identical
    // rewrite — same corpus, same oracle, verbatim (the equality is
    // also spec-proven in ExactSubstrSpec; here the DuckDB gate
    // certifies it against the independent pair-form replay)
    "d23_substring_removal_owned" -> d23RemovalSql,
    // d24: the d20 island chain restricted to POOL × BATCH occurrence
    // pairs (no ordered-pair filter — id spaces are disjoint by
    // construction), replayed on gram STRINGS like d20; the reversal
    // arm re-derives the batch text with the same list_reverse the d9
    // oracle uses
    "d24_cross_substrings" ->
      s"""WITH tkp AS (SELECT doc_id,
        |    $tokensSql AS ts
        |  FROM documents),
        |batch AS (
        |  SELECT doc_id + 5000000 AS doc_id, text FROM documents WHERE doc_id < 15
        |  UNION ALL SELECT doc_id + 5000000, 'qq ww ee rr tt ' || text
        |  FROM documents WHERE doc_id >= 15 AND doc_id < 30
        |  UNION ALL SELECT doc_id + 5000000,
        |    array_to_string(list_reverse(string_split(
        |      $normSql, ' ')), ' ')
        |  FROM documents WHERE doc_id >= 30 AND doc_id < 45),
        |tkb AS (SELECT doc_id,
        |    $tokensSql AS ts
        |  FROM batch),
        |gp0 AS (SELECT doc_id, ts, unnest(generate_series(1, len(ts) - 12)) AS i
        |  FROM tkp WHERE len(ts) >= 13),
        |gp AS (SELECT doc_id, i - 1 AS pos,
        |    array_to_string(ts[CAST(i AS INT):CAST(i AS INT) + 12], ' ') AS gs
        |  FROM gp0),
        |gb0 AS (SELECT doc_id, ts, unnest(generate_series(1, len(ts) - 12)) AS i
        |  FROM tkb WHERE len(ts) >= 13),
        |gb AS (SELECT doc_id, i - 1 AS pos,
        |    array_to_string(ts[CAST(i AS INT):CAST(i AS INT) + 12], ' ') AS gs
        |  FROM gb0),
        |p AS (SELECT a.doc_id AS id_a, a.pos AS pos_a,
        |    b.doc_id AS id_b, b.pos AS pos_b
        |  FROM gp a JOIN gb b ON a.gs = b.gs),
        |$islandCte
        |SELECT id_a, id_b, CAST(MIN(pos_a) AS BIGINT) AS start_a,
        |  CAST(MIN(pos_b) AS BIGINT) AS start_b,
        |  CAST(COUNT(*) + 12 AS BIGINT) AS span_tokens
        |FROM isl GROUP BY id_a, id_b, diag, island
        |ORDER BY id_a, id_b, start_a, start_b""".stripMargin,
    // d22: grouped d20 — identity groups over normalized text, the
    // SAME positional-gram/island chain over REPRESENTATIVES only,
    // then the four multiplicity rules (cross |A|·|B|; within
    // G + C(G,2); mirror C(G,2); diagonal-0 full-document C(G,2))
    // as a UNION ALL, replayed on gram STRINGS like d20
    "d22_substrings_grouped" ->
      s"""$d22GroupedCtes
        |SELECT id_a, id_b, CAST(start_a AS BIGINT) AS start_a,
        |  CAST(start_b AS BIGINT) AS start_b,
        |  CAST(span_tokens AS BIGINT) AS span_tokens,
        |  CAST(n_pairs AS BIGINT) AS n_pairs
        |FROM (
        |  SELECT s.id_a, s.id_b, s.start_a, s.start_b, s.span_tokens,
        |    sa.gsz * sb.gsz AS n_pairs
        |  FROM spans s JOIN sz sa ON s.id_a = sa.rep
        |    JOIN sz sb ON s.id_b = sb.rep
        |  WHERE s.id_a <> s.id_b
        |  UNION ALL
        |  SELECT s.id_a, s.id_b, s.start_a, s.start_b, s.span_tokens,
        |    z.gsz + z.gsz * (z.gsz - 1) // 2
        |  FROM spans s JOIN sz z ON s.id_a = z.rep WHERE s.id_a = s.id_b
        |  UNION ALL
        |  SELECT s.id_a, s.id_b, s.start_b, s.start_a, s.span_tokens,
        |    z.gsz * (z.gsz - 1) // 2
        |  FROM spans s JOIN sz z ON s.id_a = z.rep
        |  WHERE s.id_a = s.id_b AND z.gsz >= 2
        |  UNION ALL
        |  SELECT t.doc_id, t.doc_id, 0, 0, len(t.ts),
        |    t.gsz * (t.gsz - 1) // 2
        |  FROM tk t WHERE t.gsz >= 2 AND len(t.ts) >= 13
        |)
        |ORDER BY id_a, id_b, start_a, start_b""".stripMargin,
    // incremental dedup replayed as the all-pairs ground truth: every
    // batch doc against every pool doc with a smaller id (corpus ids
    // all precede batch ids here, so in_corpus OR pid < id reduces to
    // pid < id), jaccard on distinct 3-gram STRINGS (the d2 precedent;
    // hash-match doubles as a 100%-recall proof for the index join),
    // smallest matching id kept via row_number
    "d9_incremental_dedup" ->
      s"""WITH batch AS (
        |  SELECT doc_id + 5000000 AS doc_id, text FROM documents WHERE doc_id < 15
        |  UNION ALL SELECT doc_id + 5000000, text || ' zz qq' FROM documents
        |  WHERE doc_id >= 15 AND doc_id < 30
        |  UNION ALL SELECT doc_id + 5000000,
        |    array_to_string(list_reverse(string_split(
        |      $normSql, ' ')), ' ')
        |  FROM documents WHERE doc_id >= 30 AND doc_id < 45
        |  UNION ALL SELECT doc_id + 6000000,
        |    array_to_string(list_reverse(string_split(
        |      $normSql, ' ')), ' ')
        |  FROM documents WHERE doc_id >= 30 AND doc_id < 38),
        |pool AS (SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id, text FROM batch),
        |${shingleCte("psh", 2, "pool")},
        |bsh AS (SELECT doc_id, sh FROM psh WHERE doc_id >= 5000000),
        |v AS (SELECT b.doc_id AS id, p.doc_id AS pid,
        |    CAST(len(list_intersect(b.sh, p.sh)) AS DOUBLE) AS common,
        |    CAST(len(b.sh) + len(p.sh) AS DOUBLE) AS sz
        |  FROM bsh b JOIN psh p ON p.doc_id < b.doc_id),
        |hit AS (SELECT id, pid, common / (sz - common) AS jac FROM v
        |  WHERE common / (sz - common) >= 0.5),
        |best AS (SELECT id, pid, jac,
        |    ROW_NUMBER() OVER (PARTITION BY id ORDER BY pid) AS rn FROM hit)
        |SELECT b.doc_id, h.pid IS NOT NULL AS is_dup, h.pid AS dup_of,
        |  ROUND(h.jac, 6) AS jaccard
        |FROM (SELECT doc_id FROM batch) b
        |LEFT JOIN (SELECT * FROM best WHERE rn = 1) h ON h.id = b.doc_id
        |ORDER BY b.doc_id""".stripMargin,
    // URL census on the same planted text; regexp_extract_all group 1
    // with a pure character-class pattern parses identically under
    // Java regex and RE2
    "x15_url_domains" ->
      """WITH planted AS (SELECT doc_id,
        |    'see https://site' || CAST(doc_id % 50 AS VARCHAR) ||
        |    '.example.com/p/' || CAST(doc_id AS VARCHAR) ||
        |    ' and http://www.ref' || CAST(doc_id % 7 AS VARCHAR) ||
        |    '.org ' || text AS text
        |  FROM documents),
        |d AS (SELECT doc_id,
        |    unnest(list_distinct(regexp_extract_all(lower(text),
        |      'https?://([a-z0-9.-]+)', 1))) AS domain
        |  FROM planted)
        |SELECT domain, COUNT(*) AS n_docs FROM d
        |GROUP BY domain ORDER BY domain""".stripMargin,
    // alpha=0 mixture: S = group count (exact), rate chain
    // T * (1.0/G) / cnt left-associated as on the Spark side; the keep
    // coin compares the UNROUNDED rate on both engines
    "x10_mixture_sample" ->
      """WITH c AS (SELECT source, COUNT(*) AS cnt FROM documents GROUP BY source),
        |g AS (SELECT COUNT(*) AS ng FROM c),
        |r AS (SELECT source,
        |    LEAST(1.0, 250 * (1.0 / (SELECT ng FROM g)) / cnt) AS rate FROM c)
        |SELECT d.source, d.doc_id, ROUND(r.rate, 6) AS rate,
        |  (CAST(CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS DOUBLE)
        |    / 1152921504606846976.0) < r.rate AS kept
        |FROM documents d JOIN r USING (source)
        |ORDER BY source, doc_id""".stripMargin,
    // x25: ξ = u / w replayed with the identical md5-uniform and one
    // division; rank (ξ asc, id asc), k = 5 per source
    "x25_weighted_sample" ->
      """WITH d AS (SELECT source, doc_id,
        |    CAST(length(text) AS DOUBLE) AS w,
        |    (CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
        |        AS BIGINT) AS DOUBLE) / 1152921504606846976.0) AS u
        |  FROM documents),
        |r AS (SELECT source, doc_id, w, u / w AS xi,
        |    ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY u / w ASC, doc_id ASC) AS rn
        |  FROM d WHERE w > 0)
        |SELECT source, doc_id, w, xi FROM r WHERE rn <= 5
        |ORDER BY source, doc_id""".stripMargin,
    // quota rank mirrors TopKAgg's (score desc, id asc) with
    // score = -double(md5-prefix): hash asc, id asc
    "x9_source_quota" ->
      """SELECT source, doc_id, rk FROM (
        |  SELECT source, doc_id, CAST(ROW_NUMBER() OVER (PARTITION BY source
        |    ORDER BY CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS DOUBLE) ASC,
        |      doc_id ASC) AS INT) AS rk
        |  FROM documents) t
        |WHERE rk <= 18 ORDER BY source, rk""".stripMargin,
    "x11_bm25" -> x11OracleSql,
    "s6_hybrid_rrf" -> s6OracleSql,
    // x26: identical relining + identical content-derived plants,
    // replayed with DuckDB's index-free list lambdas; md5 over the
    // same reconstructed kept-lines bytes
    // x27: rule-for-rule regexp replay — same patterns, same pinned
    // entity order (&amp; last), 'g' flags for DuckDB's default-first
    // semantics, one identical IEEE density division
    "x27_html_strip" ->
      """WITH h AS (SELECT doc_id,
        |    '<html><head><title>Doc ' || doc_id ||
        |    '</title><script type="text/js">var x=' || doc_id ||
        |    ';</script></head><body><nav><a href="/home">Home</a> ' ||
        |    '<a href="/about">About page</a></nav>' ||
        |    '<p>Q&amp;A &lt;sample&gt; &quot;quote&quot;</p><p>' || text ||
        |    '</p><div class="footer"><a href="/contact">Contact us</a>' ||
        |    '</div></body></html>' AS html
        |  FROM documents),
        |s1 AS (SELECT doc_id, html,
        |    regexp_replace(regexp_replace(regexp_replace(html,
        |      '<script[^>]*>.*?</script>', ' ', 'g'),
        |      '<style[^>]*>.*?</style>', ' ', 'g'),
        |      '<[^>]*>', ' ', 'g') AS t FROM h),
        |s2 AS (SELECT doc_id, html,
        |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |      regexp_replace(t, '&lt;', '<', 'g'), '&gt;', '>', 'g'),
        |      '&quot;', '"', 'g'), '&#39;', chr(39), 'g'),
        |      '&amp;', '&', 'g') AS t FROM s1),
        |v AS (SELECT doc_id, html,
        |    trim(regexp_replace(t, '\s+', ' ', 'g')) AS visible FROM s2)
        |SELECT doc_id, md5(visible) AS visible_md5,
        |  CAST(length(visible) AS BIGINT) AS visible_chars,
        |  CAST(len(regexp_extract_all(html, '<[^>]*>', 0)) AS BIGINT) AS n_tags,
        |  CAST(COALESCE(list_sum(list_transform(
        |    regexp_extract_all(html, '<a [^>]*>(.*?)</a>', 1),
        |    x -> length(x))), 0) AS BIGINT) AS link_chars,
        |  CAST(COALESCE(list_sum(list_transform(
        |    regexp_extract_all(html, '<a [^>]*>(.*?)</a>', 1),
        |    x -> length(x))), 0) AS DOUBLE)
        |    / CAST(length(visible) AS DOUBLE) AS link_density
        |FROM v ORDER BY doc_id""".stripMargin,
    "x26_c4_filters" ->
      """WITH w0 AS (SELECT doc_id, string_split(text, ' ') AS ws0
        |  FROM documents),
        |s0 AS (SELECT doc_id,
        |    list_transform(generate_series(0, CAST(CEIL(len(ws0)/10.0) AS INT) - 1),
        |      i -> array_to_string(ws0[(i*10+1):(i*10+10)], ' ')) AS segs
        |  FROM w0),
        |s1 AS (SELECT doc_id, list_transform(segs,
        |      l -> CASE WHEN length(l) % 2 = 0 THEN l || '.' ELSE l END)
        |      AS segs
        |  FROM s0),
        |s2 AS (SELECT doc_id, CASE WHEN doc_id % 13 = 0
        |      THEN list_append(segs, 'var x = { javascript }')
        |      ELSE segs END AS segs
        |  FROM s1),
        |s3 AS (SELECT doc_id, CASE WHEN doc_id % 23 = 0
        |      THEN list_append(segs, 'lorem ipsum dolor sit amet.')
        |      ELSE segs END AS segs
        |  FROM s2),
        |k AS (SELECT doc_id, segs,
        |    list_filter(segs, l -> (l LIKE '%.' OR l LIKE '%!'
        |      OR l LIKE '%?' OR l LIKE '%"')
        |      AND len(string_split(l, ' ')) >= 3
        |      AND NOT contains(lower(l), 'javascript')) AS kept,
        |    array_to_string(segs, chr(10)) AS mtext
        |  FROM s3)
        |SELECT doc_id,
        |  CAST(len(segs) AS BIGINT) AS n_lines,
        |  CAST(len(kept) AS BIGINT) AS n_kept,
        |  contains(mtext, '{') AS has_curly,
        |  contains(lower(mtext), 'lorem ipsum') AS has_lorem,
        |  len(kept) >= 3 AND NOT contains(mtext, '{')
        |    AND NOT contains(lower(mtext), 'lorem ipsum') AS doc_keep,
        |  md5(COALESCE(array_to_string(kept, chr(10)), '')) AS kept_md5
        |FROM k ORDER BY doc_id""".stripMargin,
    // greedy packing replayed as a recursive CTE chained on the
    // per-source row_number; the UNION ALL step carries (bin, fill)
    // state exactly like the Spark side's streaming scan
    "x12_pack" ->
      s"""WITH RECURSIVE base AS (SELECT doc_id, source,
        |    CAST(len($tokensSql) AS INT) AS n_tok,
        |    CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id) AS INT) AS rn
        |  FROM documents),
        |rec AS (
        |  SELECT source, doc_id, n_tok, rn, CAST(0 AS BIGINT) AS bin_id,
        |    n_tok AS fill, CAST(0 AS INT) AS bin_pos
        |  FROM base WHERE rn = 1
        |  UNION ALL
        |  SELECT b.source, b.doc_id, b.n_tok, b.rn,
        |    CAST(CASE WHEN r.fill + b.n_tok <= 256 THEN r.bin_id
        |      ELSE r.bin_id + 1 END AS BIGINT),
        |    CAST(CASE WHEN r.fill + b.n_tok <= 256 THEN r.fill + b.n_tok
        |      ELSE b.n_tok END AS INT),
        |    CAST(CASE WHEN r.fill + b.n_tok <= 256 THEN r.bin_pos + 1
        |      ELSE 0 END AS INT)
        |  FROM rec r JOIN base b ON b.source = r.source AND b.rn = r.rn + 1)
        |SELECT source, doc_id, n_tok, bin_id, bin_pos, n_tok > 256 AS oversize
        |FROM rec ORDER BY source, doc_id""".stripMargin,
    // exact GROUP BY counts: valid because the MG capacity exceeds the
    // corpus vocabulary (no decrement ever fires), which the hash-match
    // itself then proves
    "x14_heavy_hitters" ->
      s"""WITH base AS (SELECT $tokensSql AS toks FROM documents),
        |tok AS (SELECT unnest(toks) AS tok FROM base)
        |SELECT tok AS item, COUNT(*) AS cnt FROM tok GROUP BY tok
        |ORDER BY cnt DESC, item LIMIT 20""".stripMargin,
    // unigram perplexity: per-token ln p rounded to 9 decimals and
    // summed as DECIMAL — exact and order-free on both engines (the
    // dsum pattern), so the per-doc mean is partitioning-independent;
    // emitted log-domain (ln_ppl) with the VARCHAR-routed decimal cast
    // — a terminal exp put libm's last ulp ON the 6-dp grid at len_k10
    "x13_unigram_ppl" ->
      s"""WITH $unigramLpCtes
        |SELECT doc_id, COUNT(*) AS n_tok,
        |  ROUND(-(CAST(CAST(SUM(lp) AS VARCHAR) AS DOUBLE) / COUNT(*)), 6)
        |    AS ln_ppl
        |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // x44: identical gram/hash/argmin machinery — md5-prefix integers,
    // rightmost-min per window recovered order-free as MAX(j) among
    // positions achieving the window MIN, DISTINCT (pos, fp) pairs
    "x44_winnowing" ->
      s"""WITH d AS (SELECT doc_id, $tokensSql AS toks
        |  FROM documents),
        |g AS (SELECT doc_id,
        |    list_transform(range(0, CAST(len(toks) - 3 AS BIGINT)),
        |      i -> array_to_string(
        |        toks[CAST(i AS INT) + 1:CAST(i AS INT) + 4], ' ')) AS grams
        |  FROM d WHERE len(toks) >= 8),
        |h AS (SELECT doc_id, list_transform(grams,
        |    x -> CAST('0x' || substr(md5(x), 1, 15) AS BIGINT)) AS hs
        |  FROM g),
        |w AS (SELECT doc_id, hs,
        |    CAST(unnest(range(0, CAST(len(hs) - 4 AS BIGINT))) AS BIGINT)
        |      AS s
        |  FROM h),
        |wj AS (SELECT doc_id, hs, s,
        |    CAST(unnest(range(0, 5)) AS BIGINT) AS o FROM w),
        |e AS (SELECT doc_id, s, s + o AS j,
        |    hs[CAST(s + o AS INT) + 1] AS hj FROM wj),
        |mn AS (SELECT doc_id, s, MIN(hj) AS mh FROM e GROUP BY 1, 2),
        |sel AS (SELECT e.doc_id, MAX(e.j) AS pos, mn.mh AS fp
        |  FROM e JOIN mn ON e.doc_id = mn.doc_id AND e.s = mn.s
        |    AND e.hj = mn.mh
        |  GROUP BY e.doc_id, e.s, mn.mh),
        |dd AS (SELECT DISTINCT doc_id, pos, fp FROM sel)
        |SELECT doc_id, pos, fp FROM dd ORDER BY doc_id, pos""".stripMargin,
    // x45: identical tokenization, delimiter rule (stoplist
    // interpolated from TextAnalysis.rakeStopwords + non-[a-z0-9]
    // regex), deg/freq division rounded to 9 dp into DECIMAL (the
    // q59 device) so phrase sums are exact on both engines
    "x45_rake" -> {
      val stops = graft.operators.TextAnalysis.rakeStopwords
        .map(s => s"'$s'").mkString(", ")
      s"""WITH d AS (SELECT doc_id, $tokensSql AS toks
        |  FROM documents),
        |t AS (SELECT doc_id, toks,
        |    CAST(unnest(range(0, CAST(len(toks) AS BIGINT))) AS BIGINT)
        |      AS p FROM d),
        |fl AS (SELECT doc_id, p, toks[CAST(p AS INT) + 1] AS tok,
        |    (toks[CAST(p AS INT) + 1] IN ($stops)
        |     OR regexp_matches(toks[CAST(p AS INT) + 1], '[^a-z0-9]')
        |     OR toks[CAST(p AS INT) + 1] = '') AS delim FROM t),
        |mem AS (SELECT doc_id, p, tok, grp FROM (
        |    SELECT doc_id, p, tok, delim,
        |      SUM(CASE WHEN delim THEN 1 ELSE 0 END)
        |        OVER (PARTITION BY doc_id ORDER BY p) AS grp
        |    FROM fl) WHERE NOT delim),
        |ph AS (SELECT doc_id, grp,
        |    string_agg(tok, ' ' ORDER BY p) AS phrase, COUNT(*) AS plen
        |  FROM mem GROUP BY doc_id, grp),
        |ws AS (SELECT m.doc_id, m.tok,
        |    CAST(ROUND(CAST(SUM(pp.plen) AS DOUBLE) / COUNT(*), 9)
        |      AS DECIMAL(18,9)) AS wscore
        |  FROM mem m JOIN ph pp ON m.doc_id = pp.doc_id AND m.grp = pp.grp
        |  GROUP BY m.doc_id, m.tok),
        |psc AS (SELECT m.doc_id, m.grp, SUM(w.wscore) AS pscore
        |  FROM mem m JOIN ws w ON m.doc_id = w.doc_id AND m.tok = w.tok
        |  GROUP BY m.doc_id, m.grp),
        |sc AS (SELECT pp.doc_id, pp.phrase, MAX(s.pscore) AS score,
        |    COUNT(*) AS n_occur
        |  FROM psc s JOIN ph pp ON s.doc_id = pp.doc_id AND s.grp = pp.grp
        |  GROUP BY pp.doc_id, pp.phrase),
        |rk AS (SELECT doc_id, phrase, score, n_occur,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id
        |      ORDER BY score DESC, phrase) AS rank FROM sc)
        |SELECT doc_id, CAST(rank AS INT) AS rank, phrase,
        |  CAST(score * 1000000000 AS BIGINT) AS score_e9, n_occur
        |FROM rk WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin
    },
    // x43: identical counts (RE2 and java.util.regex agree on these
    // plain character-class patterns), identical pinned expressions;
    // the 3-dp constants are small-int/1000 — the same double on both
    // engines by correctly-rounded division either way
    "x43_readability" ->
      s"""WITH d AS (SELECT doc_id, text, $tokensSql AS toks
        |  FROM documents),
        |c AS (SELECT doc_id,
        |    CAST(len(toks) AS BIGINT) AS n_words,
        |    CAST(GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1)
        |      AS BIGINT) AS n_sentences,
        |    CAST(list_sum(list_transform(toks, w ->
        |      GREATEST(len(regexp_extract_all(w, '[aeiouy]+')), 1)))
        |      AS BIGINT) AS n_syllables
        |  FROM d)
        |SELECT doc_id, n_words, n_sentences, n_syllables,
        |  ROUND(CAST(206.835 AS DOUBLE)
        |    - CAST(1.015 AS DOUBLE)
        |      * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
        |    - CAST(84.6 AS DOUBLE)
        |      * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE)), 6)
        |    + 0.0 AS reading_ease,
        |  ROUND(CAST(0.39 AS DOUBLE)
        |      * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
        |    + CAST(11.8 AS DOUBLE)
        |      * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE))
        |    - CAST(15.59 AS DOUBLE), 6) + 0.0 AS fk_grade
        |FROM c WHERE n_words > 0 ORDER BY doc_id""".stripMargin,
    // x42: x13's proven ppl chain as a CTE + the identical per-lang
    // rank window; terciles are pure integer comparisons (rk·3 vs n)
    "x42_ccnet_buckets" ->
      s"""WITH $unigramLpCtes,
        |p AS (SELECT doc_id,
        |    ROUND(-(CAST(CAST(SUM(lp) AS VARCHAR) AS DOUBLE) / COUNT(*)), 6)
        |      AS ln_ppl
        |  FROM sc GROUP BY doc_id),
        |pl AS (SELECT d.doc_id, d.lang, p.ln_ppl
        |  FROM documents d JOIN p ON d.doc_id = p.doc_id),
        |rk AS (SELECT doc_id, lang, ln_ppl,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY lang
        |      ORDER BY ln_ppl, doc_id) AS INT) AS rk,
        |    COUNT(*) OVER (PARTITION BY lang) AS n
        |  FROM pl)
        |SELECT doc_id, lang, ln_ppl, rk,
        |  CASE WHEN rk * 3 <= n THEN 'head'
        |       WHEN rk * 3 <= n * 2 THEN 'middle'
        |       ELSE 'tail' END AS bucket
        |FROM rk ORDER BY doc_id""".stripMargin,
    // x24: identical Laplace smoothing over the shared vocabulary and
    // the identical IEEE sequence ROUND(p * ln(p/q), 9) (+0.0 kills
    // −0); counts cast to BIGINT (DuckDB SUM yields HUGEINT)
    "x24_kl_drift" ->
      s"""WITH base AS (SELECT lang = 'en' AS in_a,
        |    $tokensSql AS toks FROM documents),
        |tok AS (SELECT in_a, unnest(toks) AS tok FROM base),
        |counts AS (SELECT tok,
        |    CAST(SUM(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS c_a,
        |    CAST(SUM(CASE WHEN in_a THEN 0 ELSE 1 END) AS BIGINT) AS c_b
        |  FROM tok GROUP BY tok),
        |st AS (SELECT CAST(SUM(c_a) AS BIGINT) AS na,
        |    CAST(SUM(c_b) AS BIGINT) AS nb, COUNT(*) AS v FROM counts),
        |p AS (SELECT tok, c_a, c_b,
        |    CAST(c_a + 1 AS DOUBLE) / CAST(na + v AS DOUBLE) AS p_a,
        |    CAST(c_b + 1 AS DOUBLE) / CAST(nb + v AS DOUBLE) AS p_b
        |  FROM counts, st)
        |SELECT tok, c_a, c_b,
        |  ROUND(p_a * ln(p_a / p_b), 9) + 0.0 AS kl_ab_term,
        |  ROUND(p_b * ln(p_b / p_a), 9) + 0.0 AS kl_ba_term
        |FROM p ORDER BY tok""".stripMargin,
    // repetition signals recomputed with unnest + two-level GROUP BY;
    // integer '/' is float division on both engines, and the flag is
    // evaluated on the ROUNDED fractions exactly as the Spark side does
    "x8_repetition" ->
      s"""WITH base AS (SELECT doc_id,
        |    $tokensSql AS toks
        |  FROM documents),
        |b2 AS (SELECT doc_id, toks, len(toks) AS n_tok FROM base),
        |uni AS (SELECT doc_id, MAX(cnt) AS top_tok FROM (
        |    SELECT doc_id, tok, COUNT(*) AS cnt
        |    FROM (SELECT doc_id, unnest(toks) AS tok FROM b2)
        |    GROUP BY doc_id, tok) GROUP BY doc_id),
        |bi AS (SELECT doc_id, MAX(cnt) AS top_bi FROM (
        |    SELECT doc_id, bg, COUNT(*) AS cnt FROM (
        |      SELECT doc_id,
        |        unnest(list_transform(range(1, CAST(n_tok AS BIGINT)),
        |          i -> toks[CAST(i AS INT)] || ' ' || toks[CAST(i AS INT) + 1])) AS bg
        |      FROM b2 WHERE n_tok >= 2)
        |    GROUP BY doc_id, bg) GROUP BY doc_id),
        |g5 AS (SELECT doc_id, n_tok,
        |    CASE WHEN n_tok >= 5 THEN
        |      1.0 - CAST(len(list_distinct(l5)) AS DOUBLE) / len(l5)
        |    ELSE 0.0 END AS dup5
        |  FROM (SELECT doc_id, n_tok,
        |      list_transform(range(1, CAST(n_tok AS BIGINT) - 3),
        |        i -> array_to_string(toks[CAST(i AS INT):CAST(i AS INT) + 4], ' ')) AS l5
        |    FROM b2)),
        |f AS (SELECT g5.doc_id, g5.n_tok,
        |    ROUND(COALESCE(uni.top_tok / g5.n_tok, 0.0), 6) AS top_tok_frac,
        |    ROUND(COALESCE(bi.top_bi / (g5.n_tok - 1), 0.0), 6) AS top_bigram_frac,
        |    ROUND(g5.dup5, 6) AS dup_5gram_frac
        |  FROM g5 LEFT JOIN uni ON g5.doc_id = uni.doc_id
        |    LEFT JOIN bi ON g5.doc_id = bi.doc_id)
        |SELECT doc_id, n_tok, top_tok_frac, top_bigram_frac, dup_5gram_frac,
        |  (top_tok_frac > 0.2 OR top_bigram_frac > 0.18 OR dup_5gram_frac > 0.3)
        |    AS repetitive
        |FROM f ORDER BY doc_id""".stripMargin,
    // transitive closure of the d2 pair graph as a recursive CTE —
    // with an IDENTITY PRE-COLLAPSE so the replay stays feasible on
    // bit-identical duplication mass (the dup axis: a 5000-member
    // identical group makes the doc-level closure Σ|C|² ≈ 10⁸ rows and
    // the r11 dup_k10 replay timed out at 3600 s; this form runs it in
    // 45 s). Lossless: docs with equal normalized text have EQUAL
    // shingle sets, hence identical Jaccard against every third doc
    // and J = 1 ≥ 0.5 with each other — so (a) the pair graph restricted
    // to representatives plus a self-edge for groups of size ≥ 2 has
    // exactly the same components as the doc-level graph expanded by
    // group membership, (b) the component's min doc id equals the min
    // rep (reps are group-min ids), and (c) cluster_size = Σ gsz.
    // Proven BIT-IDENTICAL to the direct doc-level closure at
    // sf0.001, sf0.01 and dup_k1 before the swap (r12; the r9 d19
    // blocked-rewrite protocol). Cluster id = MIN reachable. The
    // Spark side runs log-round pointer-jump CC over ALL docs; the
    // hash-match proves the fixpoint labels.
    "d6_dup_clusters" ->
      s"""WITH RECURSIVE all_docs AS (
        |$perturbedCopiesSql),
        |nrm AS (SELECT doc_id,
        |    $normSql AS nt
        |  FROM all_docs),
        |grp AS (SELECT nt, MIN(doc_id) AS rep, COUNT(*) AS gsz
        |  FROM nrm GROUP BY nt),
        |b AS (SELECT rep AS doc_id,
        |    ${shinglesSql(2)} AS sh
        |  FROM grp),
        |$jaccardPairCtes,
        |rpairs AS (SELECT id_a, id_b FROM j WHERE common / (sz - common) >= 0.5),
        |redges AS (SELECT id_a AS s, id_b AS d FROM rpairs
        |           UNION SELECT id_b, id_a FROM rpairs
        |           UNION SELECT rep, rep FROM grp WHERE gsz >= 2),
        |reach(id, r) AS (
        |  SELECT s, s FROM redges
        |  UNION
        |  SELECT re.id, e.d FROM reach re JOIN redges e ON e.s = re.r),
        |rcc AS (SELECT id AS rep, MIN(r) AS cluster_rep FROM reach GROUP BY id),
        |csz AS (SELECT c.cluster_rep,
        |    CAST(SUM(g.gsz) AS BIGINT) AS cluster_size
        |  FROM rcc c JOIN grp g ON g.rep = c.rep GROUP BY c.cluster_rep),
        |mem AS (SELECT n.doc_id, g.rep FROM nrm n JOIN grp g ON n.nt = g.nt)
        |SELECT m.doc_id, c.cluster_rep AS cluster_id, s.cluster_size,
        |  m.doc_id = c.cluster_rep AS keep
        |FROM mem m JOIN rcc c ON m.rep = c.rep
        |  JOIN csz s ON c.cluster_rep = s.cluster_rep
        |ORDER BY doc_id""".stripMargin,
    // d19: d6's CC chain + x2's verbatim quality fragment on the same
    // copies corpus, survivor = rn 1 over (q DESC, id ASC) per cluster
    // — the first-principles argmax the Spark max-of-struct must equal
    "d19_quality_survivor" ->
      s"""$d2PairCtes,
        |pairs AS (SELECT id_a, id_b FROM j WHERE common / (sz - common) >= 0.5),
        |edges AS (SELECT id_a AS s, id_b AS d FROM pairs
        |          UNION SELECT id_b, id_a FROM pairs),
        |reach(id, r) AS (
        |  SELECT s, s FROM edges
        |  UNION
        |  SELECT re.id, e.d FROM reach re JOIN edges e ON e.s = re.r),
        |cc AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id),
        |csz AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM cc
        |  GROUP BY cluster_id),
        |qv AS (SELECT doc_id, $qScoreSql AS q FROM all_docs),
        |jn AS (SELECT cc.id, cc.cluster_id, csz.cluster_size, qv.q
        |  FROM cc JOIN csz USING (cluster_id) JOIN qv ON qv.doc_id = cc.id),
        |rk AS (SELECT jn.*, ROW_NUMBER() OVER (PARTITION BY cluster_id
        |    ORDER BY q DESC, id ASC) AS rn FROM jn)
        |SELECT id AS doc_id, cluster_id, cluster_size,
        |  ROUND(q, 6) + 0.0 AS quality, rn = 1 AS is_survivor
        |FROM rk ORDER BY doc_id""".stripMargin,
    // oracle = exact all-pairs over base ∪ planted copies; the Spark
    // side runs the LSH-banded plan — the compare is on OUTPUT, so this
    // doubles as a recall proof for the blocked path
    "d5_embed_dup" ->
      s"""WITH all_v AS (
         |  SELECT vec_id, $embVecSql AS e
         |  FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + 1000000,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE) * 0.98 + 0.02)
         |  FROM embeddings)
         |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |  ROUND(list_cosine_similarity(a.e, b.e), 6) AS cos
         |FROM all_v a JOIN all_v b ON a.vec_id < b.vec_id
         |WHERE list_cosine_similarity(a.e, b.e) >= 0.9
         |ORDER BY id_a, id_b""".stripMargin,
    "s1_ann_brute" -> s1OracleSql,
    // e7: both proven index replays composed as CTEs; recall counted
    // by the same (qid, id) overlap join
    "e7_ann_recall" ->
      s"""WITH brute AS (
         |$s1OracleSql
         |), lsh AS (
         |$s2OracleSql
         |),
         |ov AS (SELECT b.qid, COUNT(*) AS n_overlap
         |  FROM brute b JOIN lsh l ON b.qid = l.qid AND b.id = l.id
         |  GROUP BY b.qid),
         |nb AS (SELECT qid, COUNT(*) AS n_brute FROM brute GROUP BY qid),
         |nl AS (SELECT qid, COUNT(*) AS n_lsh FROM lsh GROUP BY qid)
         |SELECT nb.qid, n_brute, n_lsh,
         |  COALESCE(n_overlap, 0) AS n_overlap,
         |  ROUND(CAST(COALESCE(n_overlap, 0) AS DOUBLE) / n_brute, 6)
         |    AS recall
         |FROM nb JOIN nl ON nb.qid = nl.qid
         |LEFT JOIN ov ON nb.qid = ov.qid
         |ORDER BY nb.qid""".stripMargin,
    "x2_quality" ->
      s"""SELECT doc_id, n_chars,
        |  CAST($tokenCountSql AS BIGINT) AS n_tokens,
        |  CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS BIGINT) AS n_punct,
        |  length(regexp_replace(text, '[^A-Za-z]', '', 'g')) / greatest(length(text), 1) AS alpha_ratio,
        |  len(list_filter(string_split_regex($normSql, ' '),
        |      t -> t IN ${stopListSql("en")}))
        |    / greatest($tokenCountSql, 1) AS stopword_ratio,
        |  (length(text) - ($tokenCountSql - 1))
        |    / greatest($tokenCountSql, 1.0) AS mean_word_len,
        |  least($tokenCountSql / 100.0, 1.0) * 0.4
        |   + (length(regexp_replace(text, '[^A-Za-z]', '', 'g')) / greatest(length(text), 1)) * 0.4
        |   + least(len(list_filter(string_split_regex($normSql, ' '),
        |        t -> t IN ${stopListSql("en")}))
        |      / greatest($tokenCountSql, 1) * 5.0, 1.0) * 0.2
        |   AS quality_score
        |FROM documents ORDER BY doc_id""".stripMargin,
    "x5_chunk" ->
      """WITH d AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        |           FROM documents),
        |c AS (SELECT doc_id, toks,
        |      1 + CAST(ceil(greatest(len(toks) - 64, 0) / 48.0) AS INT) AS nc
        |      FROM d),
        |e AS (SELECT doc_id, unnest(range(nc)) AS cid, toks FROM c)
        |SELECT doc_id, CAST(cid AS INT) AS chunk_id,
        |  CAST(len(string_split(array_to_string(toks[cid*48+1 : cid*48+64], ' '), ' ')) AS INT) AS n_chunk_tokens,
        |  md5(array_to_string(toks[cid*48+1 : cid*48+64], ' ')) AS chunk_md5
        |FROM e ORDER BY doc_id, chunk_id""".stripMargin,
    "x7_split" -> {
      // hex→int without strtol: positional char arithmetic, identical in
      // both engines (Spark side uses conv(), same value)
      val hexVal = (1 to 4).map(i =>
        s"(strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), $i, 1)) - 1) * ${math.pow(16, 4 - i).toLong}")
        .mkString(" + ")
      s"""SELECT doc_id, CAST(($hexVal) % 100 AS INT) AS bucket,
         |  CASE WHEN ($hexVal) % 100 < 80 THEN 'train'
         |       WHEN ($hexVal) % 100 < 90 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM documents ORDER BY doc_id""".stripMargin
    },
    "x6_redact" ->
      """WITH p AS (SELECT doc_id,
        |  'contact user' || doc_id || '@example.com or call 555-123-4567 ref 9876543 ' || text AS text
        |  FROM documents),
        |r AS (SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(text,
        |  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |  '\+?[0-9][0-9 ()-]{7,}[0-9]', '<PHONE>', 'g'),
        |  '[0-9]{6,}', '<NUM>', 'g') AS clean FROM p)
        |SELECT doc_id, md5(clean) AS clean_md5,
        |  CAST(len(string_split(clean, '<EMAIL>')) - 1 AS INT) AS n_emails,
        |  CAST(len(string_split(clean, '<PHONE>')) - 1 AS INT) AS n_phones
        |FROM r ORDER BY doc_id""".stripMargin,
    "x3_token_count" ->
      """SELECT doc_id,
        |  CAST(len(string_split_regex(trim(text), '\s+')) AS INTEGER) AS ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS INTEGER) AS bpeish_tokens,
        |  CAST(length(text) AS INTEGER) AS n_chars_m
        |FROM documents ORDER BY doc_id""".stripMargin,
    // Kernels.langId mirrored as arithmetic: the fold keeps the EARLIEST
    // language attaining the max stopword score (strict > to replace),
    // hence the >= cascade in profile order en,de,es,fr.
    "x1_lang_id" ->
      s"""WITH b AS (
        |  SELECT doc_id, lang,
        |    $tokensSql AS toks,
        |    ${cjkRatioSql("text")} AS cjk
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, lang, cjk,
        |    $stopScoresSql
        |  FROM b),
        |p AS (
        |  SELECT doc_id, lang, cjk,
        |    greatest(s_en, s_de, s_es, s_fr) AS best_s,
        |    CASE WHEN s_en >= greatest(s_de, s_es, s_fr) THEN 'en'
        |         WHEN s_de >= greatest(s_es, s_fr) THEN 'de'
        |         WHEN s_es >= s_fr THEN 'es'
        |         ELSE 'fr' END AS winner
        |  FROM s)
        |SELECT doc_id,
        |  CASE WHEN cjk > 0.3 THEN 'zh'
        |       WHEN best_s > 0.0 THEN winner
        |       ELSE 'und' END AS pred,
        |  lang AS actual,
        |  (CASE WHEN cjk > 0.3 THEN 'zh' WHEN best_s > 0.0 THEN winner ELSE 'und' END) = lang AS hit
        |FROM p ORDER BY doc_id""".stripMargin,
    // quantized-cosine: identical explicit half-away-from-zero rounding
    // formula on both engines (Quantize.toInt8); integer dots are exact
    // in double, so no cross-engine drift before the final round(...,6)
    "s4_quant_cosine" ->
      s"""WITH base AS (
        |  SELECT vec_id, $embVecSql AS v
        |  FROM embeddings),
        |sc AS (
        |  SELECT vec_id, v,
        |    list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale,
        |    sqrt(list_inner_product(v, v)) AS nv
        |  FROM base),
        |q AS (
        |  SELECT vec_id, v, scale, nv,
        |    CASE WHEN scale = 0 THEN list_transform(v, x -> 0.0)
        |         ELSE list_transform(v, x -> CASE WHEN x >= 0
        |             THEN floor(x / scale + 0.5) ELSE -floor(-(x / scale) + 0.5) END)
        |    END AS qv
        |  FROM sc),
        |probe AS (SELECT qv AS q0, scale AS s0, v AS v0, nv AS nv0 FROM q WHERE vec_id = 0),
        |j AS (
        |  SELECT q.vec_id,
        |    list_inner_product(q.v, p.v0) / (q.nv * p.nv0) AS ce,
        |    list_inner_product(q.qv, p.q0) * q.scale * p.s0 / (q.nv * p.nv0) AS cq
        |  FROM q, probe p WHERE q.vec_id != 0)
        |SELECT vec_id, ROUND(ce, 6) AS cos_exact, ROUND(cq, 6) AS cos_q,
        |  ROUND(abs(ce - cq), 6) AS abs_err
        |FROM j ORDER BY vec_id""".stripMargin,
    // jaccard on hashed grams == jaccard on the gram strings themselves
    // (set sizes are hash-independent), so the oracle drops xxhash64 and
    // compares the jaccard VALUES on substring sets
    // d15: d4's block/gram construction + the identical KMV rule —
    // sketch values replay as md5-prefix BIGINTs, bottom-64 of the
    // merged sketches, fraction present in both; raw IEEE divisions
    // d16: full replay — same md5-order sample + planted copies, same
    // word-3-shingle sets, same h=16 md5-prefix minhash signature and
    // band-key renders, same all-pairs truth and the two ratios
    "d16_lsh_band_sweep" -> d16OracleSql,
    // e11: per-dim s1-shape brute CTEs on list prefixes, same raw-cos
    // ordering + id tiebreak, overlap counted by the same (qid, id) join
    "e11_matryoshka_sweep" -> e11OracleSql,
    // x28: identical md5 buckets, cell counts, probe cuts, and the
    // min-over-rows estimate
    "x28_count_min" ->
      s"""WITH tk AS (SELECT tok FROM (
        |    SELECT unnest(string_split(
        |      $normSql, ' ')) AS tok
        |    FROM documents) WHERE tok <> ''),
        |sd AS (SELECT unnest(range(0, 4)) AS seed),
        |cells AS (SELECT seed,
        |    CAST('0x' || substr(md5(CAST(seed AS VARCHAR) || '|' || tok), 1, 15)
        |      AS BIGINT) % 1024 AS bucket, COUNT(*) AS c
        |  FROM tk, sd GROUP BY 1, 2),
        |exact AS (SELECT tok, COUNT(*) AS exact_n FROM tk GROUP BY 1),
        |heavy AS (SELECT * FROM exact ORDER BY exact_n DESC, tok LIMIT 10),
        |samp AS (SELECT * FROM exact ORDER BY md5(tok), tok LIMIT 5),
        |probes AS (SELECT DISTINCT * FROM
        |  (SELECT * FROM heavy UNION ALL SELECT * FROM samp)),
        |pb AS (SELECT tok, exact_n, seed,
        |    CAST('0x' || substr(md5(CAST(seed AS VARCHAR) || '|' || tok), 1, 15)
        |      AS BIGINT) % 1024 AS bucket
        |  FROM probes, sd)
        |SELECT p.tok, p.exact_n, MIN(c.c) AS cms_n,
        |  MIN(c.c) - p.exact_n AS overcount
        |FROM pb p JOIN cells c ON p.seed = c.seed AND p.bucket = c.bucket
        |GROUP BY p.tok, p.exact_n
        |ORDER BY p.exact_n DESC, p.tok""".stripMargin,
    // d15/d4 replays count per-pair gram intersections via the
    // inverted gram index WITHIN each (source, length-bucket) block
    // (COUNT(*) over the gram equi-join = |A∩B| exactly, the d2
    // device) instead of a per-pair list_intersect over all ~9M
    // within-block pairs — lossless, since a pair sharing zero grams
    // has J = 0 < threshold on both forms, and 12×/5× faster at the
    // sf1 gate (d4 27 min → 131 s, d15 39 min → 452 s). Proven
    // BIT-IDENTICAL to the all-pairs forms at sf0.001/sf0.01/sf0.1
    // before the swap (r12; the r9 d19 blocked-rewrite protocol).
    "d15_kmv_calibration" ->
      s"""WITH $charGramBlocks,
        |kk AS (
        |  SELECT id,
        |    list_sort(list_distinct(list_transform(g,
        |      s -> CAST('0x' || substr(md5(s), 1, 15) AS BIGINT))))[1:64] AS kv
        |  FROM b),
        |${charGramPairsCte("jc")},
        |f AS (
        |  SELECT id_a, id_b, common / (sz - common) AS j_exact,
        |    list_sort(list_distinct(ka.kv || kb.kv))[1:64] AS su,
        |    ka.kv AS ka, kb.kv AS kb
        |  FROM jc JOIN kk ka ON ka.id = jc.id_a JOIN kk kb ON kb.id = jc.id_b
        |  WHERE common / (sz - common) >= 0.2)
        |SELECT id_a, id_b, j_exact,
        |  CAST(len(list_filter(su, x -> list_contains(ka, x)
        |      AND list_contains(kb, x))) AS DOUBLE) / len(su) AS j_kmv
        |FROM f ORDER BY id_a, id_b""".stripMargin,
    "d4_ngram_jaccard" ->
      s"""WITH $charGramBlocks,
        |${charGramPairsCte("j")}
        |SELECT id_a, id_b, ROUND(common / (sz - common), 6) AS jaccard
        |FROM j WHERE common / (sz - common) >= 0.6
        |ORDER BY id_a, id_b""".stripMargin,
    // the Spark side PARSES planted PNG/BMP/WAV headers byte-by-byte;
    // the oracle recomputes the planted metadata arithmetically from
    // doc_id + header sizes (33/54/44 bytes) — a value-level check that
    // the parser reads the right offsets/endianness
    "m1_multimodal" ->
      """WITH m AS (SELECT doc_id,
        |  CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'png' WHEN 1 THEN 'bmp' ELSE 'wav' END AS fmt,
        |  CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 33 WHEN 1 THEN 54 ELSE 44 END
        |    + octet_length(encode(text)) AS n_bytes,
        |  CASE WHEN doc_id % 3 IN (0, 1) THEN CAST(doc_id % 640 AS INT) + 1 ELSE 0 END AS width,
        |  CASE WHEN doc_id % 3 IN (0, 1) THEN CAST(doc_id % 480 AS INT) + 1 ELSE 0 END AS height,
        |  CASE WHEN doc_id % 3 = 2 THEN 8000 + CAST(doc_id % 5 AS INT) * 8000 ELSE 0 END AS sample_rate
        |  FROM documents)
        |SELECT fmt, COUNT(*) AS n, CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
        |  MIN(width) AS min_w, MAX(height) AS max_h, MAX(sample_rate) AS max_sr
        |FROM m GROUP BY fmt ORDER BY fmt""".stripMargin,
    // m2: post-transform metadata recomputed arithmetically — images
    // become 64×48 (header rewrite, body kept), WAV data chunks are cut
    // at 500 samples × channels × 2 bytes, everything else unchanged
    "m2_media_transform" ->
      """SELECT doc_id,
        |  CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'png' WHEN 1 THEN 'bmp' ELSE 'wav' END AS fmt,
        |  CAST(CASE CAST(doc_id % 3 AS INT)
        |    WHEN 0 THEN 33 + octet_length(encode(text))
        |    WHEN 1 THEN 54 + octet_length(encode(text))
        |    ELSE 44 + LEAST(octet_length(encode(text)),
        |                    500 * (1 + CAST(doc_id % 2 AS INT)) * 2)
        |  END AS BIGINT) AS n_bytes,
        |  CASE WHEN doc_id % 3 IN (0, 1) THEN 64 ELSE 0 END AS width,
        |  CASE WHEN doc_id % 3 IN (0, 1) THEN 48 ELSE 0 END AS height,
        |  CASE WHEN doc_id % 3 = 2 THEN 8000 + CAST(doc_id % 5 AS INT) * 8000 ELSE 0 END AS sample_rate,
        |  CASE WHEN doc_id % 3 = 2 THEN 1 + CAST(doc_id % 2 AS INT) ELSE 0 END AS channels
        |FROM documents ORDER BY doc_id""".stripMargin,
    // md5-prefix fingerprints: CAST('0x'||hex AS BIGINT) parses the same
    // 15-hex-char (60-bit) prefix Spark takes via conv/ShingleMinMd5
    "x4_fingerprint" ->
      s"""WITH b AS (SELECT doc_id, $normSql AS nt
        |           FROM documents),
        |t AS (SELECT doc_id, nt, string_split(nt, ' ') AS toks FROM b),
        |sh AS (SELECT doc_id, nt,
        |        list_transform(range(1, CAST(greatest(len(toks) - 2, 1) AS BIGINT) + 1),
        |          i -> array_to_string(toks[CAST(i AS INT):CAST(i AS INT)+2], ' ')) AS shingles
        |       FROM t)
        |SELECT doc_id,
        |  CAST('0x' || substr(md5(nt), 1, 15) AS BIGINT) AS fp64,
        |  list_min(list_transform(shingles,
        |    s -> CAST('0x' || substr(md5(s), 1, 15) AS BIGINT))) AS fp_min_shingle
        |FROM sh ORDER BY doc_id""".stripMargin,
  )
}
