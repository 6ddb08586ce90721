package graft.oracle

import graft.expressions.TextHashKernels

/** DuckDB SQL fragments that more than one oracle builder shares:
  * each is written once here, so a dialect quirk (decimal→double
  * through VARCHAR, epoch seconds over nanosecond timestamps, list
  * arithmetic over embeddings) is known in exactly one place. */
object Fragments {

  /** Matching DuckDB SQL fragment for [[graft.Tables.revenue]]. */
  val revenueSql: String =
    "CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2))) AS DECIMAL(18,4))"

  /** DuckDB fragment: decimal-to-double at an oracle OUTPUT boundary,
    * routed through VARCHAR. DuckDB's direct DECIMAL→DOUBLE cast
    * divides two separately-rounded doubles (int128 value, 10^scale)
    * and can land 1 ulp off the correctly-rounded conversion; Spark's
    * (BigDecimal.doubleValue) is correctly rounded. Printing the
    * exact digits and re-parsing (DuckDB's strtod is correctly
    * rounded) matches Spark bit-for-bit — the r11 full-registry sf1
    * strict drive caught q1's sum_charge off by exactly this ulp. */
  def decToDoubleSql(expr: String): String =
    s"CAST(CAST($expr AS VARCHAR) AS DOUBLE)"

  /** DuckDB fragment: exact decimal sum of a 2-decimal double, as
    * DOUBLE (correctly-rounded conversion — see [[decToDoubleSql]]). */
  def dsumSql(col: String): String =
    decToDoubleSql(s"SUM(CAST($col AS DECIMAL(12,2)))")

  /** DuckDB fragment: a timestamp or date column as whole epoch
    * seconds, floored. `events.ts` is a nanosecond TIMESTAMP in parquet;
    * the cast to TIMESTAMP makes `epoch` read either type alike. */
  def epochSecSql(c: String): String =
    s"CAST(FLOOR(epoch(CAST($c AS TIMESTAMP))) AS BIGINT)"

  /** `e`(user_id, es, event_id, cols…): the events with whole epoch
    * seconds `es`. */
  def eventSecCte(cols: String): String =
    s"""e AS (SELECT user_id,
       |    ${epochSecSql("ts")} AS es,
       |    event_id, $cols FROM events)""".stripMargin

  // ---- text ---------------------------------------------------------------

  /** DuckDB fragment: `c` lower-cased, whitespace runs collapsed to one
    * space, trimmed — the replay of `Dedup.normText`. */
  def normTextSql(c: String): String =
    s"trim(regexp_replace(lower($c), '\\s+', ' ', 'g'))"

  /** [[normTextSql]] of the `documents.text` column. */
  val normSql: String = normTextSql("text")

  /** The normalized text's tokens (`TextAnalysis.tokens`). */
  val tokensSql: String = s"string_split($normSql, ' ')"

  /** The normalized text's token count as the quality scorer reads it
    * (`string_split_regex`, as `TextAnalysis.qualityColumns`). */
  val tokenCountSql: String = s"len(string_split_regex($normSql, ' '))"

  /** The distinct `k`-token shingles of a normalized-text column `nt`
    * (one shingle for a document shorter than `k` tokens). */
  def shinglesSql(k: Int): String =
    s"""list_distinct(list_transform(
       |      range(1, CAST(greatest(len(string_split(nt, ' ')) - $k, 1) AS BIGINT) + 1),
       |      i -> array_to_string((string_split(nt, ' '))[CAST(i AS INT):CAST(i AS INT)+$k], ' ')))"""
      .stripMargin

  /** `name`(doc_id, sh): the distinct `k`-token shingles of each
    * `src`(doc_id, text) row's normalized text. */
  def shingleCte(name: String, k: Int, src: String): String =
    s"""$name AS (SELECT doc_id,
       |    ${shinglesSql(k)} AS sh
       |  FROM (SELECT doc_id, $normSql AS nt
       |        FROM $src))""".stripMargin

  /** `j`(id_a, id_b, common, sz) over shingle sets `b`(doc_id, sh): every
    * pair sharing a shingle, |A∩B| and |A|+|B| as DOUBLE. An inverted
    * index (unnest, equi-join on the shingle), lossless for any Jaccard
    * threshold > 0: a pair with J > 0 shares at least one shingle. */
  val jaccardPairCtes: String =
    """dg AS (SELECT doc_id, len(sh) AS sz1, unnest(sh) AS g FROM b),
      |j AS (
      |  SELECT a.doc_id AS id_a, bb.doc_id AS id_b,
      |    CAST(COUNT(*) AS DOUBLE) AS common,
      |    CAST(ANY_VALUE(a.sz1) + ANY_VALUE(bb.sz1) AS DOUBLE) AS sz
      |  FROM dg a JOIN dg bb ON a.g = bb.g AND a.doc_id < bb.doc_id
      |  GROUP BY a.doc_id, bb.doc_id)""".stripMargin

  /** `documents` ∪ a copy with ids + 10^6 and a two-token suffix: the
    * perturbed-copies corpus of `LlmQueries.withCopies`. */
  val perturbedCopiesSql: String =
    """  SELECT doc_id, text FROM documents
      |  UNION ALL SELECT doc_id + 1000000, text || ' zz qq' FROM documents"""
      .stripMargin

  /** The planted substring corpus (d20–d23): `documents`, exact copies of
    * docs 0–19 (ids + 10^6), and docs 20–39 behind a 5-token prefix
    * (ids + 2·10^6). */
  val plantedDocsSql: String =
    """  SELECT doc_id, text FROM documents
      |  UNION ALL SELECT doc_id + 1000000, text FROM documents
      |  WHERE doc_id < 20
      |  UNION ALL SELECT doc_id + 2000000, 'qq ww ee rr tt ' || text
      |  FROM documents WHERE doc_id >= 20 AND doc_id < 40""".stripMargin

  /** Positional 13-gram occurrence pairs over token lists `tk`(doc_id,
    * ts): `g`(doc_id, pos, gs) per window, `p`(id_a, pos_a, id_b, pos_b)
    * per ordered pair of equal windows — the input of [[islandCte]]. */
  val gramPairCtes: String =
    """g0 AS (SELECT doc_id, ts,
      |    unnest(generate_series(1, len(ts) - 12)) AS i
      |  FROM tk WHERE len(ts) >= 13),
      |g AS (SELECT doc_id, i - 1 AS pos,
      |    array_to_string(ts[CAST(i AS INT):CAST(i AS INT) + 12], ' ') AS gs
      |  FROM g0),
      |p AS (SELECT a.doc_id AS id_a, a.pos AS pos_a,
      |    b.doc_id AS id_b, b.pos AS pos_b
      |  FROM g a JOIN g b ON a.gs = b.gs
      |    AND (a.doc_id < b.doc_id
      |      OR (a.doc_id = b.doc_id AND a.pos < b.pos)))""".stripMargin

  /** The share of CJK ideographs among the characters of `c`. */
  def cjkRatioSql(c: String): String =
    s"""length(regexp_replace($c, '[^\\x{4e00}-\\x{9fff}]', '', 'g'))
       |      / greatest(length($c), 1)""".stripMargin

  /** The distinct character 3-grams of a normalized-text column `nt`
    * (one gram for a text shorter than 3 characters). */
  val charGramsSql: String =
    """list_distinct(list_transform(
      |      range(1, CAST(greatest(length(nt) - 2, 1) AS BIGINT) + 1),
      |      i -> substr(nt, CAST(i AS INT), 3)))""".stripMargin

  /** A lang-id stop-word profile as an SQL `IN` list, read from the
    * kernel's canonical profiles so engine and oracle share one list. */
  def stopListSql(lang: String): String =
    TextHashKernels.langProfiles.toMap.apply(lang)
      .map(w => s"'$w'").mkString("(", ",", ")")

  /** The four profile scores over a token list `toks`, as columns
    * `s_en`, `s_de`, `s_es`, `s_fr` (profile order = tie-break order). */
  val stopScoresSql: String = TextHashKernels.langProfiles.map { case (l, _) =>
    s"len(list_filter(toks, t -> t IN ${stopListSql(l)})) / greatest(len(toks),1) AS s_$l"
  }.mkString(",\n    ")

  /** Diagonal islands over occurrence pairs `p` (id_a, pos_a, id_b,
    * pos_b): runs of consecutive positions on one diagonal share
    * `pos_a - ROW_NUMBER()`, so (diag, island) names one matched span. */
  val islandCte: String =
    """isl AS (SELECT id_a, id_b, pos_a, pos_b, pos_a - pos_b AS diag,
      |    pos_a - ROW_NUMBER() OVER (PARTITION BY id_a, id_b, pos_a - pos_b
      |      ORDER BY pos_a) AS island
      |  FROM p)""".stripMargin

  // ---- embeddings ---------------------------------------------------------

  /** An `embeddings.embedding` (FLOAT[]) widened to DOUBLE[]. */
  val embVecSql: String = "list_transform(embedding, x -> CAST(x AS DOUBLE))"

  /** `name`(vec_id, v): every embedding widened to DOUBLE[]. */
  def embCte(name: String): String =
    s"""$name AS (SELECT vec_id,
       |    $embVecSql AS v
       |  FROM embeddings)""".stripMargin

  /** The seeded centroid sample's order: by md5 of the id, ties by id. */
  val md5OrderSql: String = "md5(CAST(vec_id AS VARCHAR)), vec_id"

  /** Squared euclidean distance of `v` to centroid `c.cv` less the
    * per-vector constant ip(v,v): ip(c,c) − 2·ip(v,c); `sep` breaks
    * the two terms. Ordered `ASC, c.cid ASC`, row 1 is the nearest
    * centroid with ties to the smaller id, as the Spark argmin. */
  def centroidDistSql(v: String, sep: String = " "): String =
    s"list_inner_product(c.cv, c.cv) -${sep}2 * list_inner_product($v, c.cv)"

  private def assignCte(orderBy: String): String =
    s"""assign AS (SELECT vec_id, v, nv, cid AS cell FROM (
       |    SELECT b.vec_id, b.v, b.nv, c.cid,
       |      ROW_NUMBER() OVER (PARTITION BY b.vec_id $orderBy) AS rn
       |    FROM b CROSS JOIN cent c) t WHERE rn = 1)""".stripMargin

  /** Row 1 of this order is the euclidean-nearest `cent` of `b.v`. */
  val euclidOrderSql: String = s"${centroidDistSql("b.v")} ASC, c.cid ASC"

  /** `assign`(vec_id, v, nv, cell): every row of `b`(vec_id, v, nv) in
    * its euclidean-nearest `cent`(cid, cv) cell. */
  val euclidAssignCte: String = assignCte(s"ORDER BY $euclidOrderSql")

  /** [[euclidAssignCte]] by cosine: nearest = largest cos, a zero
    * vector scoring 0 (`cent` also carries its norm `nc`). */
  val cosineAssignCte: String = assignCte(
    """ORDER BY
      |        CASE WHEN b.nv * c.nc = 0.0 THEN 0.0
      |             ELSE -(list_inner_product(b.v, c.cv) / (b.nv * c.nc))
      |        END ASC, c.cid ASC""".stripMargin)

  /** Each query's top 10 of `src`(qid, id, cos) by cos (desc, id asc
    * — the TopKAgg order), cos rounded to 6 places. */
  def top10Sql(src: String): String =
    s"""SELECT qid, id, ROUND(cos, 6) AS cos, rk FROM (
       |  SELECT qid, id, cos,
       |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, id ASC) AS rk
       |  FROM $src) t
       |WHERE rk <= 10 ORDER BY qid, rk""".stripMargin

  /** Per-dimension first and second moments of the 64-dim embeddings:
    * `m`(i, j, exy, ex, ey) over every dimension pair i ≤ j. */
  val momentCtes: String =
    s"""e AS (SELECT $embVecSql AS v
       |           FROM embeddings),
       |d AS (SELECT CAST(unnest(range(1, 65)) AS INT) AS i),
       |p AS (SELECT a.i AS i, b.i AS j FROM d a JOIN d b ON b.i >= a.i),
       |m AS (SELECT p.i, p.j, AVG(v[p.i] * v[p.j]) AS exy,
       |        AVG(v[p.i]) AS ex, AVG(v[p.j]) AS ey
       |      FROM e CROSS JOIN p GROUP BY p.i, p.j)""".stripMargin
}
