package graft
package queries

/** The DuckDB stages that several oracles share, each named after the
  * Scala stage it replays. Every oracle mirrors its query's exact
  * arithmetic: decimal casts, total-order tiebreaks and second-aligned
  * timestamp cutoffs (SURVEY §5). A stage emits top-level CTEs, so
  * [[graft.SparkEntry.materializeCtes]] materializes each of them.
  */
private[graft] object OracleBlocks {

  /** The tie-exact half-up quotient round(num · scale / den), num ≥ 0,
    * den > 0: the one oracle spelling of Exact.halfUpDiv (whose
    * scaladoc gives the reason).
    */
  def halfUpDiv(num: String, den: String, scale: Long = 1): String =
    s"(2 * ($num)${if (scale == 1) "" else s" * $scale"} + ($den)) // (2 * ($den))"

  /** [[halfUpDiv]] of any-signed `num`: half-up on the magnitude, sign
    * reapplied (Exact.withSignOf).
    */
  def halfUpDivSigned(num: String, den: String, scale: Long = 1): String = {
    val mag = halfUpDiv(s"abs($num)", den, scale)
    s"CASE WHEN ($num) < 0 THEN -($mag) ELSE $mag END"
  }

  /** A count of 10⁻⁶ units as its double value (Exact.micros). */
  def micros(units: String): String = s"CAST($units AS DOUBLE) / 1000000.0 + 0.0"

  /** The tie-exact 6-dp ratio num / den (Exact.ratio6). */
  def ratio6(num: String, den: String, scale: Long = 1000000): String =
    micros(halfUpDiv(num, den, scale))

  /** n·Σab − Σa·Σb in doubles over exact moment sums (Exact.comoment). */
  private def comoment(n: String, a: String, b: String, ab: String): String =
    s"(CAST($n AS DOUBLE) * CAST($ab AS DOUBLE) - CAST($a AS DOUBLE) * CAST($b AS DOUBLE))"

  /** The sample standard deviation (Exact.sampleStd). */
  def sampleStd(n: String, s: String, s2: String): String =
    s"sqrt(${comoment(n, s, s, s2)} / (CAST($n AS DOUBLE) * CAST($n - 1 AS DOUBLE)))"

  /** Pearson's r at 6 dp, null on a zero variance (Exact.pearson). */
  def pearson(n: String, sx: String, sy: String, sxy: String, sx2: String, sy2: String): String = {
    val (vx, vy) = (comoment(n, sx, sx, sx2), comoment(n, sy, sy, sy2))
    s"CASE WHEN $vx > 0.0 AND $vy > 0.0 THEN round(${comoment(n, sx, sy, sxy)} / sqrt($vx * $vy), 6) + 0.0 END"
  }

  /** Beta of r on m at 6 dp, null on a zero m variance (Exact.beta). */
  def beta(n: String, sr: String, sm: String, srm: String, sm2: String): String = {
    val den = comoment(n, sm, sm, sm2)
    s"CASE WHEN $den <> 0 THEN round(${comoment(n, sr, sm, srm)} / $den, 6) + 0.0 END"
  }

  /** round(e, 6) as an exact decimal (Exact.dec6; one more digit of
    * precision, which changes no value).
    */
  def dec6(e: String): String = s"CAST(round($e, 6) AS DECIMAL(19,6))"

  /** DuckDB token/shingle building blocks shared by the text oracles. */
  val toksExpr = "list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> len(x) > 0)"
  def shinglesCte(w: Int): String =
    s"""t AS (SELECT doc_id, $toksExpr AS w FROM documents),
       |sh AS (SELECT DISTINCT doc_id,
       |  unnest([array_to_string(w[i:i+${w - 1}], ' ') FOR i IN range(1, greatest(len(w)-${w - 1}, 0) + 1)]) AS s
       |  FROM t WHERE len(w) >= $w)""".stripMargin

  /** The document pairs a < b sharing a w-token shingle, scored by
    * `score` over their overlap `c` and their shingle-set sizes `sa.n`
    * and `sb.n` (Dedup.scoredPairCounts), and kept at score ≥
    * `threshold`: the CTEs up to `pairs(a, b, score)`.
    */
  def scoredPairs(w: Int, score: String, threshold: String): String =
    s"""${shinglesCte(w)},
       |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |inter AS (SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS c
       |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
       |pairs AS (SELECT * FROM (SELECT a, b, $score AS score
       |  FROM inter JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b) WHERE score >= $threshold)""".stripMargin

  /** The Jaccard similarity of a pair in [[scoredPairs]]. */
  val jaccard = "round(CAST(c AS DOUBLE) / (sa.n + sb.n - c), 6) + 0.0"

  /** Connected-components CTE chain (near-dup pairs → edges →
    * transitive reach) shared by the dedup_components and dedup_apply
    * oracles; ends with the `reach(node, r)` relation.
    */
  def componentsCtes: String =
    s"""WITH RECURSIVE ${scoredPairs(3, jaccard, "0.8")},
       |edges AS (SELECT a AS s, b AS d FROM pairs UNION ALL SELECT b AS s, a AS d FROM pairs),
       |gnodes AS (SELECT DISTINCT s AS node FROM edges),
       |reach(node, r) AS (
       |  SELECT node, node FROM gnodes
       |  UNION
       |  SELECT e.d, reach.r FROM reach JOIN edges e ON e.s = reach.node)""".stripMargin

  /** Unrolled Lloyd-iteration CTE chain (the fin_ridge unroll
    * technique) — k-means in exact 1e-8 integer units, mirroring
    * Similarity.lloyd/nearestCells op-for-op: `ex` quantizes
    * components (round(double · 1e8) — the ann_lsh fixed-point
    * pattern), `c0` is the md5-ordered seed, and each round t
    * computes integer squared distances `d{t}`, the argmin
    * assignment `a{t}` (lowest-cluster tiebreak), and half-up
    * integer means `c{t}` ([[halfUpDivSigned]]; empty clusters keep
    * their previous centroid). Ends
    * with `a_fin(vec_id, cluster, du)` — the assignment under the
    * final centroids. DuckDB sums BIGINTs into HUGEINT, so no
    * overflow on its side; Spark's Long bound is documented at
    * Similarity.units.
    */
  val rawExDef: String =
    s"""ex AS (SELECT vec_id, CAST(i - 1 AS BIGINT) AS dim,
       |    CAST(round(CAST(embedding[CAST(i AS INT)] AS DOUBLE) * 100000000, 0) AS BIGINT) AS u
       |  FROM (SELECT vec_id, embedding, unnest(range(1, len(embedding) + 1)) AS i FROM embeddings))""".stripMargin

  def lloydCtes(k: Int, iters: Int, exDef: String = rawExDef,
                        trainEx: String = "ex",
                        initFrom: String = "embeddings"): String = {
    // trainEx/initFrom restrict TRAINING (seed, per-round assignment
    // and means) to a subset while d_fin/a_fin still assign the FULL
    // `ex` under the final centroids — the frozen-model encode the
    // appended-index oracle replays (defaults = train on everything).
    val header =
      s"""$exDef,
         |init AS (SELECT vec_id, rn - 1 AS cluster FROM (
         |  SELECT vec_id, CAST(row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS BIGINT) AS rn
         |  FROM $initFrom) WHERE rn <= $k),
         |c0 AS (SELECT init.cluster, ex.dim, ex.u AS cu FROM init JOIN ex ON ex.vec_id = init.vec_id)""".stripMargin
    val rounds = (1 to iters).map { t =>
      s"""d$t AS (SELECT ex.vec_id, c.cluster, sum((ex.u - c.cu) * (ex.u - c.cu)) AS du
         |  FROM $trainEx AS ex JOIN c${t - 1} c ON c.dim = ex.dim GROUP BY 1, 2),
         |a$t AS (SELECT vec_id, cluster FROM (
         |  SELECT vec_id, cluster, row_number() OVER (PARTITION BY vec_id ORDER BY du, cluster) AS rn FROM d$t) WHERE rn = 1),
         |c$t AS (SELECT p.cluster, p.dim, coalesce(m.cu, p.cu) AS cu FROM c${t - 1} p LEFT JOIN (
         |  SELECT a.cluster, ex.dim, CAST(${halfUpDivSigned("sum(ex.u)", "count(*)")} AS BIGINT) AS cu
         |  FROM a$t a JOIN $trainEx AS ex ON ex.vec_id = a.vec_id GROUP BY 1, 2) m
         |  ON m.cluster = p.cluster AND m.dim = p.dim)""".stripMargin
    }
    val fin =
      s"""d_fin AS (SELECT ex.vec_id, c.cluster, sum((ex.u - c.cu) * (ex.u - c.cu)) AS du
         |  FROM ex JOIN c$iters c ON c.dim = ex.dim GROUP BY 1, 2),
         |a_fin AS (SELECT vec_id, cluster, du FROM (
         |  SELECT vec_id, cluster, du, row_number() OVER (PARTITION BY vec_id ORDER BY du, cluster) AS rn FROM d_fin) WHERE rn = 1)""".stripMargin
    (Seq(header) ++ rounds ++ Seq(fin)).mkString(",\n")
  }

  /** Exact-decimal element product (engine-parity, see VectorFunctions.dec8). */
  private def dec8(e: String): String = s"CAST(round(CAST($e AS DOUBLE), 8) AS DECIMAL(19,8))"

  /** The exact decimal dot product of two embedding columns as one
    * unnested term per dimension (VectorFunctions.decDot); sum the
    * terms per pair.
    */
  def decDot(a: String, b: String): String =
    s"unnest([${dec8(s"$a[i]")} * ${dec8(s"$b[i]")} FOR i IN range(1, len($a) + 1)])"

  /** `norms(vec_id, nrm)`: every vector's exact decimal squared norm. */
  val normsCte =
    s"""norms AS (SELECT vec_id, sum(p) AS nrm FROM (
       |  SELECT vec_id, ${decDot("embedding", "embedding")} AS p FROM embeddings) GROUP BY vec_id)""".stripMargin

  /** `dots(<x>, <y>, carry…, dot)`: the exact decimal dot product of
    * every pair that `pairs` yields, a FROM clause joining one vector
    * as `embeddings x` to the other as `embeddings y`; `carry` are
    * (name, expression) columns kept per pair.
    */
  private def dots(pairs: String, x: String, y: String, carry: Seq[(String, String)]): String = {
    val keys = Seq(x -> "x.vec_id", y -> "y.vec_id") ++ carry
    s"""dots AS (SELECT ${keys.map(_._1).mkString(", ")}, sum(p) AS dot FROM (
       |  SELECT ${keys.map { case (n, e) => s"$e AS $n" }.mkString(", ")},
       |    ${decDot("x.embedding", "y.embedding")} AS p
       |  FROM $pairs) GROUP BY ${keys.indices.map(_ + 1).mkString(", ")})""".stripMargin
  }

  /** The rows of `dots` with their exact decimal cosine
    * (Similarity.exactCosine) as `cosine`; needs `norms`.
    */
  private def cosines(x: String, y: String, carry: Seq[(String, String)]): String =
    s"""SELECT ${(Seq(x, y) ++ carry.map(_._1)).mkString(", ")},
       |    round(CAST(dot AS DOUBLE) / sqrt(CAST(nx.nrm AS DOUBLE) * CAST(ny.nrm AS DOUBLE)), 6) + 0.0 AS cosine
       |  FROM dots JOIN norms nx ON nx.vec_id = $x JOIN norms ny ON ny.vec_id = $y""".stripMargin

  /** Threshold verify (Similarity.verified): the pairs of `pairs`
    * (see [[dots]]) whose exact cosine is at least `threshold`, as
    * (`x`, `y`, carry…, cosine) ordered by (`x`, `y`). Ends the query.
    */
  def verified(pairs: String, x: String, y: String, threshold: String,
               carry: Seq[(String, String)] = Nil): String =
    s"""${dots(pairs, x, y, carry)}
       |SELECT * FROM (${cosines(x, y, carry)})
       |WHERE cosine >= $threshold ORDER BY $x, $y""".stripMargin

  /** The candidate cut of a two-phase search (Similarity.twoPhase):
    * each query's `rerank` rows of `src` first in (`dist`, vec_id)
    * order, as `cand(query_id, [label,] vec_id)`.
    */
  def candidateCut(src: String, dist: String, rerank: Int, label: Boolean = false): String = {
    val cols = if (label) "query_id, label, vec_id" else "query_id, vec_id"
    s"""cand AS (SELECT $cols FROM (
       |  SELECT $cols, row_number() OVER (PARTITION BY query_id ORDER BY $dist, vec_id) AS rc
       |  FROM $src) WHERE rc <= $rerank)""".stripMargin
  }

  /** The survivors of a [[candidateCut]], each joined to its query's
    * and its own vector: the `pairs` of an [[exactTopK]].
    */
  val candidates = "cand c JOIN embeddings x ON x.vec_id = c.query_id JOIN embeddings y ON y.vec_id = c.vec_id"

  /** Exact re-rank (Similarity.exactTopK): each query's top 5 of the
    * pairs of `pairs` (see [[dots]], the query as `x`) by (exact
    * cosine desc, vec_id), as (query_id, [label,] neighbor_id, rank,
    * cosine) ordered by (query_id, rank). The `label` expression, an
    * IVF search's cell, rides to the output. Ends the query.
    */
  def exactTopK(pairs: String, label: Option[String] = None): String = {
    val carry = label.map("label" -> _).toSeq
    val l = if (label.isDefined) "label, " else ""
    s"""${dots(pairs, "query_id", "nvec", carry)},
       |scored AS (${cosines("query_id", "nvec", carry)})
       |SELECT query_id, ${l}nvec AS neighbor_id, rank, cosine FROM (
       |  SELECT query_id, ${l}nvec, cosine,
       |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, nvec) AS BIGINT) AS rank
       |  FROM scored) WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
  }

  /** `sigs(vec_id, sig)`: every vector's sign bits packed 32 per
    * BIGINT word (BinarySig.signPack): bit i of word w is set iff
    * embedding[32w+i] ≥ 0, a raw float comparison with no rounding
    * step; a NaN component packs 0. Partial word sums stay < 2^32, so
    * the packing never touches the sign bit.
    */
  val signPack: String =
    s"""sigw AS (SELECT vec_id, b.w AS w, CAST(sum(b.v) AS BIGINT) AS word FROM (
       |  SELECT vec_id, unnest([{'w': (i - 1) // 32,
       |      'v': CASE WHEN isnan(CAST(embedding[i] AS DOUBLE)) THEN 0::BIGINT WHEN embedding[i] >= 0 THEN (1::BIGINT << ((i - 1) % 32)) ELSE 0::BIGINT END}
       |    FOR i IN range(1, len(embedding) + 1)]) AS b
       |  FROM embeddings) GROUP BY 1, 2),
       |sigs AS (SELECT vec_id, list(word ORDER BY w) AS sig FROM sigw GROUP BY 1)""".stripMargin

  /** The exact quantiles of `value` over a CTE `r(value, rn, n)`
    * numbering each group's values from 1 to n in (value, id) order:
    * the count and the rank-element p50, p90 and p99, as in
    * FinAnalytics.valueQuantiles.
    */
  val quantiles: String =
    """max(n) AS n,
      |  max(CASE WHEN rn = (n + 1) // 2 THEN value END) AS p50,
      |  max(CASE WHEN rn = (9 * n + 9) // 10 THEN value END) AS p90,
      |  max(CASE WHEN rn = (99 * n + 99) // 100 THEN value END) AS p99""".stripMargin

  /** Each user's bars in day order (FinAnalytics.byDay). */
  val byDay = "PARTITION BY user_id ORDER BY day"

  /** The trailing `bars`-bar frame of [[byDay]] (FinAnalytics.trailing). */
  def trailing(bars: Int): String = s"$byDay ROWS BETWEEN ${bars - 1} PRECEDING AND CURRENT ROW"

  /** Where a daily return over `prev` is defined (FinAnalytics.returnDefined). */
  def returnDefined(prev: String): String = s"$prev IS NOT NULL AND $prev <> 0"

  /** The daily return close / prev − 1 (FinAnalytics.dailyReturn). */
  def dailyReturn(prev: String): String = s"close / $prev - 1.0"

  /** `rets(user_id, day, close, ret)`: each user's daily returns over
    * [[closesCte]] where defined (FinAnalytics.dailyReturns).
    */
  val returnsCte: String =
    s"""rets AS (SELECT user_id, day, close, ${dailyReturn("prev_close")} AS ret FROM (
       |  SELECT user_id, day, close, lag(close, 1) OVER ($byDay) AS prev_close FROM closes)
       |  WHERE ${returnDefined("prev_close")})""".stripMargin

  /** Daily-close CTE shared by the fin_* window analytics. */
  val closesCte =
    """WITH closes AS (
      |  SELECT user_id, day, value AS close, volume FROM (
      |    SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day, value, ts, event_id,
      |           row_number() OVER (PARTITION BY user_id, CAST(date_trunc('day', ts) AS DATE)
      |                              ORDER BY ts DESC, event_id DESC) AS rn,
      |           count(*) OVER (PARTITION BY user_id, CAST(date_trunc('day', ts) AS DATE)) AS volume
      |    FROM events) WHERE rn = 1)""".stripMargin

  /** Text-verdict oracles, hoisted so the composed curate_filter
    * oracle can nest them verbatim as CTE bodies. */
  val qualityOracleSql: String =
    (s"""WITH t AS (SELECT doc_id, text, $toksExpr AS w FROM documents),
        |m AS (SELECT doc_id,
        |  CAST(length(text) AS BIGINT) AS n_chars, CAST(len(w) AS BIGINT) AS n_words,
        |  CAST(list_sum(list_transform(w, x -> len(x))) AS BIGINT) AS sum_word_len,
        |  CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS BIGINT) AS n_punct,
        |  CAST(len(list_filter(w, x -> x IN ('the','a','of','and','to','in','is'))) AS BIGINT) AS n_stop
        |  FROM t)
        |SELECT doc_id, n_chars, n_words, sum_word_len, n_punct, n_stop,
        |  CASE WHEN n_words > 0 THEN ${ratio6("sum_word_len", "n_words")} END AS avg_word_len,
        |  CASE WHEN n_chars > 0 THEN ${ratio6("n_punct", "n_chars")} END AS punct_ratio,
        |  CASE WHEN n_words > 0 THEN ${ratio6("n_stop", "n_words")} END AS stop_ratio,
        |  (n_words >= 5 AND punct_ratio <= 0.1
        |   AND avg_word_len >= 2.0 AND avg_word_len <= 12.0) AS keep
        |FROM m ORDER BY doc_id""".stripMargin)
  val repetitionOracleSql: String =
    (s"""WITH t AS (SELECT doc_id, $toksExpr AS w FROM documents),
        |tok AS (SELECT doc_id, unnest(w) AS token, generate_subscripts(w, 1) AS pos FROM t),
        |tc AS (SELECT doc_id, token, count(*) AS cnt FROM tok GROUP BY doc_id, token),
        |agg1 AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_tokens,
        |    CAST(sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS BIGINT) AS dup_tok
        |  FROM tc GROUP BY doc_id),
        |top AS (SELECT doc_id, token AS top_token, CAST(cnt AS BIGINT) AS top_n FROM (
        |    SELECT doc_id, token, cnt,
        |      row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, token) AS rn FROM tc)
        |  WHERE rn = 1),
        |g2 AS (SELECT doc_id,
        |    unnest([array_to_string(w[i:i+1], ' ') FOR i IN range(1, greatest(len(w)-1, 0) + 1)]) AS s
        |  FROM t WHERE len(w) >= 2),
        |gc AS (SELECT doc_id, s, count(*) AS cnt FROM g2 GROUP BY doc_id, s),
        |agg2 AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS total2,
        |    CAST(sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS BIGINT) AS dup2
        |  FROM gc GROUP BY doc_id),
        |r AS (SELECT doc_id, pos,
        |    CASE WHEN lag(token) OVER (PARTITION BY doc_id ORDER BY pos) IS DISTINCT FROM token
        |         THEN 1 ELSE 0 END AS chg
        |  FROM tok),
        |rid AS (SELECT doc_id, sum(chg) OVER (PARTITION BY doc_id ORDER BY pos
        |    ROWS UNBOUNDED PRECEDING) AS run_id FROM r),
        |rl AS (SELECT doc_id, run_id, count(*) AS run_len FROM rid GROUP BY doc_id, run_id),
        |agg3 AS (SELECT doc_id, CAST(max(run_len) AS BIGINT) AS max_run FROM rl GROUP BY doc_id)
        |SELECT doc_id, n_tokens, top_token, top_n,
        |  ${ratio6("top_n", "n_tokens")} AS top_frac,
        |  ${ratio6("dup_tok", "n_tokens")} AS dup_token_frac,
        |  ${ratio6("dup2", "total2")} AS dup_2gram_frac,
        |  max_run
        |FROM agg1 JOIN top USING (doc_id) JOIN agg2 USING (doc_id) JOIN agg3 USING (doc_id)
        |ORDER BY doc_id""".stripMargin)
  val langidOracleSql: String =
    (s"""WITH t AS (SELECT doc_id, lang, $toksExpr AS w FROM documents),
        |s AS (SELECT doc_id, lang,
        |  CAST(len(list_filter(w, x -> x IN ('der','die','das','und','ist','nicht','ein'))) AS BIGINT) AS s_de,
        |  CAST(len(list_filter(w, x -> x IN ('the','a','of','and','to','in','is'))) AS BIGINT) AS s_en,
        |  CAST(len(list_filter(w, x -> x IN ('el','la','los','y','en','que','es'))) AS BIGINT) AS s_es,
        |  CAST(len(list_filter(w, x -> x IN ('le','la','les','et','est','un','une'))) AS BIGINT) AS s_fr,
        |  CAST(len(list_filter(w, x -> x IN ('的','是','了','在','我'))) AS BIGINT) AS s_zh
        |  FROM t)
        |SELECT doc_id, lang, s_de, s_en, s_es, s_fr, s_zh,
        |  CASE WHEN s_de >= greatest(s_en, s_es, s_fr, s_zh) THEN 'de'
        |       WHEN s_en >= greatest(s_es, s_fr, s_zh) THEN 'en'
        |       WHEN s_es >= greatest(s_fr, s_zh) THEN 'es'
        |       WHEN s_fr >= s_zh THEN 'fr' ELSE 'zh' END AS pred_lang
        |FROM s ORDER BY doc_id""".stripMargin)

  /** The unrolled 7×7 ridge solve as CTE steps — replays
    * [[operators.Ridge.solve]]'s pivot-free Gaussian elimination
    * OPERATION-FOR-OPERATION in double arithmetic (the normal matrix
    * is SPD, so the Scala side does no data-dependent row swaps and
    * the IEEE op sequence is fixed → bit-identical coefficients).
    * `src` must provide columns `s_i_j` (exact decimal Gram sums,
    * upper triangle, i ≤ j) plus any `carry` columns (e.g. fold) to
    * thread through; emits CTEs `m0, e1..e6, bx6..bx0` where bx0 has
    * x0..x6. The VARCHAR round-trip forces a correctly-rounded
    * decimal→double like Spark's BigDecimal.doubleValue.
    */
  def ridgeSolveCtes(src: String, alpha: String, carry: Seq[String]): String = {
    def sref(i: Int, j: Int): String = {
      val (a, b) = (math.min(i, j), math.max(i, j))
      s"COALESCE(CAST(CAST(s_${a}_$b AS VARCHAR) AS DOUBLE), 0.0)"
    }
    val carryCols = carry.map(_ + ", ").mkString
    val m0 = (for { r <- 0 to 6; c <- 0 to 6 } yield
      s"(${sref(r, c)}${if (r == c && r > 0) s" + $alpha" else ""}) AS a_${r}_$c")
      .mkString(", ") + ", " + (0 to 6).map(r => s"${sref(r, 7)} AS b_$r").mkString(", ")
    // e{k}: state after elimination step k-1 (pivot row k-1 frozen;
    // rows r >= k updated on columns c >= k).
    val steps = (1 to 6).map { k =>
      val p = k - 1
      val frozen = (for { r <- 0 until k; c <- r to 6 } yield s"a_${r}_$c") ++
        (0 until k).map(r => s"b_$r")
      val updated = (for { r <- k to 6; c <- k to 6 } yield
        s"(a_${r}_$c - (a_${r}_$p / a_${p}_$p) * a_${p}_$c) AS a_${r}_$c") ++
        (k to 6).map(r => s"(b_$r - (a_${r}_$p / a_${p}_$p) * b_$p) AS b_$r")
      s"e$k AS (SELECT $carryCols${(frozen ++ updated).mkString(", ")} FROM ${if (k == 1) "m0" else s"e${k - 1}"})"
    }
    // Back-substitution, one CTE per unknown (ascending-term sums,
    // left-associated — the Scala fold order).
    val backs = (6 to 0 by -1).map { k =>
      val terms = (k + 1 to 6).map(c => s"a_${k}_$c * x$c")
      val num = if (terms.isEmpty) s"b_$k" else s"(b_$k - (${terms.mkString(" + ")}))"
      val from = if (k == 6) "e6" else s"bx${k + 1}"
      s"bx$k AS (SELECT *, $num / a_${k}_$k AS x$k FROM $from)"
    }
    (s"m0 AS (SELECT $carryCols$m0 FROM $src)" +: (steps ++ backs)).mkString(",\n")
  }

  def ridgeYhat: String =
    (0 to 6).map(i => s"CAST(z$i AS DOUBLE) * x$i").mkString(" + ")
}
