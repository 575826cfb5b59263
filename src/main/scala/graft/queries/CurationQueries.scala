package graft
package queries

import graft.operators._
import graft.sources.Tables
import OracleBlocks._

/** Corpus curation: filters, the trained quality model, surprisal
  * buckets, token budgets, splits, mixes and the end-to-end pipeline
  * (Curation, QualityModel). */
private[graft] object CurationQueries extends Family {

  val queries: Seq[Query] = Seq(
    Query("curate_token_budget", (s, d) => Curation.tokenBudget(Tables(s, d).documents),
      s"""WITH t AS (SELECT doc_id, CAST(len($toksExpr) AS BIGINT) AS n_toks,
        |    md5(CAST(doc_id AS VARCHAR)) AS md FROM documents),
        |o AS (SELECT doc_id, n_toks,
        |    CAST(coalesce(sum(n_toks) OVER (ORDER BY md, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
        |  FROM t)
        |SELECT doc_id, n_toks, off, off + n_toks <= 10000 AS complete
        |FROM o WHERE off < 10000 ORDER BY off, doc_id""".stripMargin),
    Query("curate_filter", (s, d) => Curation.filterGate(Tables(s, d).documents),
      s"""WITH q AS ($qualityOracleSql),
         |r AS ($repetitionOracleSql),
         |l AS ($langidOracleSql)
         |SELECT d.doc_id, d.lang, q.keep AS quality_ok,
         |  coalesce(r.top_frac <= 0.15 AND r.dup_token_frac <= 0.9, false) AS repetition_ok,
         |  (l.pred_lang = d.lang) AS lang_ok,
         |  (q.keep AND coalesce(r.top_frac <= 0.15 AND r.dup_token_frac <= 0.9, false)
         |    AND l.pred_lang = d.lang) AS keep
         |FROM documents d JOIN q ON q.doc_id = d.doc_id
         |LEFT JOIN r ON r.doc_id = d.doc_id JOIN l ON l.doc_id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin),
    // trained quality classifier: exact-decimal Gram + the fixed-IEEE
    // pivot-free solve (the fin_ridge argument) -> full oracle
    Query("curate_quality_model", (s, d) => QualityModel.score(Tables(s, d).documents), qualityModelOracle),
    // The same exact-decimal Gram/solve fit on a CALLER-GRADED label
    // (FineWeb-Edu shape: an external grader scores docs and the
    // ridge regresses the engine features onto it) — here a
    // deterministic per-source grade standing in for the LLM judge,
    // so the full oracle replays the external-label path end to end
    Query("curate_quality_model_labeled", (s, d) => {
      import org.apache.spark.sql.functions.{col, lit, substring}
      QualityModel.score(Tables(s, d).documents,
        label = Some((substring(col("source"), 4, 10).cast("int") % 6).cast("double") / lit(5.0)))
    }, qualityModelLabeledOracle),
    // model-score-ranked token-budget selection (keep-the-best-docs)
    Query("curate_quality_budget", (s, d) => Curation.qualityBudget(Tables(s, d).documents), qualityBudgetOracle),
    // CCNet-style per-language surprisal terciles -> head/middle/tail.
    // Oracle: the surprisal chain (text_surprisal's oracle body), then the per-language tercile thresholds as
    // DIRECT order statistics (one window — single-node oracle);
    // the Spark side locates the SAME ranks via the bucketed
    // two-pass (fin_quantiles machinery), so b1/b2 — and therefore
    // every bucket verdict — are the identical (mean_bits, doc_id)
    // order statistics.
    Query("curate_ppl_buckets", (s, d) => Curation.pplBuckets(Tables(s, d).documents),
      s"""WITH $pplBucketCtes
        |SELECT doc_id, lang, mean_bits, bucket FROM pb ORDER BY doc_id""".stripMargin),
    // the bucket ACTION (CCNet trains on head+middle): per-bucket
    // per-myriad keep rates via the deterministic hex60 doc hash
    // (curate_mix's replay) — all of head, half of middle, none of tail
    Query("curate_ppl_filter", (s, d) => Curation.pplFilter(Tables(s, d).documents),
      s"""WITH $pplBucketCtes,
        |f AS (SELECT doc_id, lang, mean_bits, bucket,
        |  CAST(CASE WHEN bucket = 'head' THEN 10000
        |            WHEN bucket = 'middle' THEN 5000 ELSE 0 END AS BIGINT) AS rate,
        |  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':ppl'), 1, 15))::UBIGINT % 10000 AS BIGINT) AS hash
        |FROM pb)
        |SELECT doc_id, lang, mean_bits, bucket, rate, hash
        |FROM f WHERE hash < rate ORDER BY doc_id""".stripMargin),
    Query("curate_oversample", (s, d) => Curation.oversample(Tables(s, d).documents),
      """WITH s AS (SELECT lang, CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY lang),
        |t AS (SELECT max(n) AS target FROM s),
        |r AS (SELECT doc_id, lang,
        |        CAST(row_number() OVER (PARTITION BY lang
        |          ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rn
        |      FROM documents)
        |SELECT doc_id, r.lang AS lang,
        |       CAST(target // n + CASE WHEN rn <= target % n THEN 1 ELSE 0 END AS BIGINT) AS copies
        |FROM r JOIN s ON r.lang IS NOT DISTINCT FROM s.lang CROSS JOIN t ORDER BY doc_id""".stripMargin),
    // test/train sizes scaled to the smallest gate SF (sf0.001 has
    // ~1k events); semantics are SF-independent window arithmetic
    Query("curate_time_split", (s, d) => Curation.timeSplit(Tables(s, d).events,
      nSplits = 5, gap = 48, maxTrainSize = 400, testSize = 100),
      """WITH r AS (SELECT event_id,
        |    CAST(row_number() OVER (ORDER BY ts, event_id) AS BIGINT) - 1 AS idx
        |  FROM events),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM events),
        |folds AS (SELECT CAST(unnest(range(5)) AS BIGINT) AS fold),
        |j AS (SELECT fold, event_id, idx, n - (5 - fold) * 100 AS test_start
        |      FROM r CROSS JOIN nn CROSS JOIN folds)
        |SELECT fold,
        |  CASE WHEN idx >= test_start AND idx < test_start + 100 THEN 'test'
        |       WHEN idx < test_start - 48 AND idx >= greatest(0, test_start - 48 - 400) THEN 'train'
        |  END AS role, event_id, idx
        |FROM j
        |WHERE (idx >= test_start AND idx < test_start + 100)
        |   OR (idx < test_start - 48 AND idx >= greatest(0, test_start - 48 - 400))
        |ORDER BY fold, role, idx""".stripMargin),
    Query("curate_pack", (s, d) => Curation.packSequences(Tables(s, d).documents),
      s"""WITH t AS (SELECT doc_id, CAST(len($toksExpr) AS BIGINT) AS n_toks FROM documents),
        |o AS (SELECT doc_id, n_toks,
        |        CAST(coalesce(sum(n_toks) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
        |      FROM t)
        |SELECT doc_id, n_toks, off,
        |  CAST(off // 256 AS BIGINT) AS seq_id, CAST(off % 256 AS BIGINT) AS seq_pos,
        |  CAST(CASE WHEN n_toks > 0 THEN (off + n_toks - 1) // 256 - off // 256 + 1 ELSE 0 END AS BIGINT) AS n_seqs
        |FROM o ORDER BY doc_id""".stripMargin),
    Query("curate_split", (s, d) => Curation.splitAssign(Tables(s, d).documents),
      """SELECT doc_id, lang, bucket,
        |  CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
        |FROM (SELECT doc_id, lang,
        |        CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::UBIGINT % 100 AS BIGINT) AS bucket
        |      FROM documents) ORDER BY doc_id""".stripMargin),
    Query("curate_shard", (s, d) => Curation.shardManifest(Tables(s, d).documents),
      s"""WITH d AS (SELECT doc_id,
         |    len($toksExpr) AS n_toks, length(text) AS n_chars,
         |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':shard'), 1, 15))::UBIGINT % 16 AS BIGINT) AS shard,
         |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || text), 1, 15))::UBIGINT AS BIGINT) AS h
         |  FROM documents)
         |SELECT shard, count(*) AS n_docs, CAST(sum(n_toks) AS BIGINT) AS total_tokens,
         |  CAST(sum(n_chars) AS BIGINT) AS total_chars, min(doc_id) AS min_doc,
         |  max(doc_id) AS max_doc, bit_xor(h) AS content_sig
         |FROM d GROUP BY shard ORDER BY shard""".stripMargin),
    Query("curate_mix", (s, d) => Curation.mixSources(Tables(s, d).documents),
      """WITH w AS (SELECT doc_id, source,
        |  CASE WHEN source IN ('src0','src1','src2','src3','src4') THEN 10000
        |       WHEN source IN ('src5','src6','src7','src8','src9') THEN 5000
        |       ELSE 2500 END AS rate,
        |  ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':mix'), 1, 15))::UBIGINT % 10000 AS bucket
        |FROM documents)
        |SELECT doc_id, source, CAST(rate AS BIGINT) AS rate, CAST(bucket AS BIGINT) AS bucket
        |FROM w WHERE bucket < rate ORDER BY doc_id""".stripMargin),
    Query("curate_balance", (s, d) => Curation.balanceStrata(Tables(s, d).documents),
      """WITH n AS (SELECT min(n) AS min_n FROM (SELECT count(*) AS n FROM documents GROUP BY lang)),
        |r AS (SELECT doc_id, lang,
        |        CAST(row_number() OVER (PARTITION BY lang
        |          ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rn
        |      FROM documents)
        |SELECT doc_id, lang, rn FROM r CROSS JOIN n WHERE rn <= min_n ORDER BY lang, rn""".stripMargin),
    Query("curate_sample", (s, d) => Curation.sampleStratified(Tables(s, d).documents),
      """SELECT doc_id, lang, rn FROM (
        |  SELECT doc_id, lang,
        |         CAST(row_number() OVER (PARTITION BY lang
        |           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rn
        |  FROM documents) WHERE rn <= 20 ORDER BY lang, rn""".stripMargin),
    Query("curate_stats", (s, d) => Curation.corpusStats(Tables(s, d).documents),
      s"""WITH t AS (SELECT lang, CAST(length(text) AS BIGINT) AS n_chars,
        |  CAST(len($toksExpr) AS BIGINT) AS n_toks FROM documents)
        |SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  CAST(sum(n_toks) AS BIGINT) AS total_tokens,
        |  CAST(sum(CASE WHEN n_toks >= 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
        |  ${ratio6("total_chars", "n_docs")} AS avg_chars
        |FROM t GROUP BY lang ORDER BY lang""".stripMargin),
    // end-to-end curation verdict; shares the dedup label stage
    Query("curate_pipeline", (s, d) => Curation.pipeline(Tables(s, d).documents, DedupQueries.memoComponents(s, d)),
      componentsCtes +
        s"""
        |, comps AS (SELECT node, min(r) AS comp FROM reach GROUP BY node),
        |keep AS (SELECT comp, min(node) AS keeper FROM comps GROUP BY comp),
        |dd AS (SELECT d.doc_id, coalesce(k.keeper, d.doc_id) AS keeper_id,
        |       coalesce(k.keeper, d.doc_id) = d.doc_id AS dedup_kept
        |       FROM documents d LEFT JOIN comps c ON c.node = d.doc_id
        |       LEFT JOIN keep k ON k.comp = c.comp),
        |q AS ($qualityOracleSql),
        |r AS ($repetitionOracleSql),
        |l AS ($langidOracleSql),
        |sp AS (SELECT doc_id,
        |       CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
        |       FROM (SELECT doc_id,
        |               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::UBIGINT % 100 AS BIGINT) AS bucket
        |             FROM documents))
        |SELECT d.doc_id, d.lang, sp.split, q.keep AS quality_ok,
        |  coalesce(r.top_frac <= 0.15 AND r.dup_token_frac <= 0.9, false) AS repetition_ok,
        |  (l.pred_lang = d.lang) AS lang_ok,
        |  (q.keep AND coalesce(r.top_frac <= 0.15 AND r.dup_token_frac <= 0.9, false)
        |    AND l.pred_lang = d.lang) AS filter_ok,
        |  dd.keeper_id, dd.dedup_kept,
        |  (q.keep AND coalesce(r.top_frac <= 0.15 AND r.dup_token_frac <= 0.9, false)
        |    AND l.pred_lang = d.lang AND dd.dedup_kept) AS keep
        |FROM documents d JOIN q ON q.doc_id = d.doc_id
        |LEFT JOIN r ON r.doc_id = d.doc_id JOIN l ON l.doc_id = d.doc_id
        |JOIN dd ON dd.doc_id = d.doc_id JOIN sp ON sp.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin),
  )

  /** curate_quality_model oracle — the trained-quality-classifier
    * loop end to end: the three text-verdict oracles nested verbatim
    * (the curate_filter composition pattern), the 6-feature + label
    * z-vector with the IDENTICAL coalesce/quantization as
    * [[operators.QualityModel.zFrame]] (missing repetition rows read
    * worst-case 1.0; null ratios 0.0), exact-decimal Gram sums, the
    * unrolled 7×7 pivot-free solve (bit-identical coefficients — the
    * fin_ridge argument), and the scoring scan with the same
    * left-associated IEEE sum order.
    */
  private def qualityModelOracle: String =
    s"""WITH $qualityScoreCtes
       |SELECT doc_id, label, score, score >= 0.5 AS pred
       |FROM p ORDER BY doc_id""".stripMargin

  /** The shared CCNet stratification CTE chain of the curate_ppl_*
    * oracles, ending at `pb` = (doc_id, lang, mean_bits, bucket):
    * the surprisal chain, per-language tercile order statistics via
    * a direct rank window (equal to the Scala side's bucketed
    * two-pass rank location), and the cut-by-value bucket CASE.
    */
  private def pplBucketCtes: String =
    s"""t AS (SELECT doc_id, $toksExpr AS w FROM documents),
       |tok AS (SELECT doc_id, unnest(w) AS token FROM t),
       |freq AS (SELECT token, CAST(count(*) AS BIGINT) AS f FROM tok GROUP BY token),
       |tot AS (SELECT CAST(sum(f) AS BIGINT) AS total FROM freq),
       |s AS (SELECT doc_id, CAST(length(bin(total // f)) - 1 AS BIGINT) AS bits
       |      FROM tok JOIN freq USING (token) CROSS JOIN tot),
       |g AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       |  CAST(sum(bits) AS BIGINT) AS total_bits FROM s GROUP BY doc_id),
       |sb AS (SELECT doc_id,
       |  ${ratio6("total_bits", "n_tokens")} AS mean_bits FROM g),
       |b AS (SELECT d.doc_id, d.lang, sb.mean_bits
       |      FROM documents d JOIN sb ON sb.doc_id = d.doc_id),
       |st AS (SELECT lang, CAST(count(*) AS BIGINT) AS n FROM b GROUP BY lang),
       |r AS (SELECT lang, doc_id, mean_bits,
       |    CAST(row_number() OVER (PARTITION BY lang ORDER BY mean_bits, doc_id) AS BIGINT) AS rn
       |  FROM b),
       |thr AS (SELECT r.lang,
       |    max(CASE WHEN rn = greatest((n + 1) // 3, 1) THEN mean_bits END) AS b1,
       |    max(CASE WHEN rn = greatest((2 * n + 2) // 3, 1) THEN mean_bits END) AS b2
       |  FROM r JOIN st USING (lang) GROUP BY r.lang),
       |pb AS (SELECT doc_id, lang, mean_bits,
       |  CASE WHEN mean_bits <= b1 THEN 'head'
       |       WHEN mean_bits <= b2 THEN 'middle' ELSE 'tail' END AS bucket
       |FROM b JOIN thr USING (lang))""".stripMargin

  /** curate_quality_model_labeled oracle — the identical chain with
    * the caller-graded label expression in place of the heuristic
    * verdict (the per-source grade the registration plants).
    */
  private def qualityModelLabeledOracle: String =
    s"""WITH ${qualityScoreCtes(Some("(CAST(substr(d.source, 4) AS INTEGER) % 6) / 5.0"))}
       |SELECT doc_id, label, score, score >= 0.5 AS pred
       |FROM p ORDER BY doc_id""".stripMargin

  /** curate_quality_budget oracle — the scoring chain, whitespace
    * token counts, and ONE global window cumsum in (score DESC,
    * doc_id) order (equal to the Scala side's bucketed two-pass
    * prefix sum by associativity — the tokenBudget argument, with
    * the score bucket as the range key).
    */
  private def qualityBudgetOracle: String =
    s"""WITH $qualityScoreCtes,
       |tk AS (SELECT doc_id, CAST(len($toksExpr) AS BIGINT) AS n_toks FROM documents),
       |b AS (SELECT doc_id, score, n_toks FROM p JOIN tk USING (doc_id)),
       |o AS (SELECT doc_id, score, n_toks,
       |    CAST(coalesce(sum(n_toks) OVER (ORDER BY score DESC, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
       |  FROM b)
       |SELECT doc_id, score, n_toks, off, off + n_toks <= 10000 AS complete
       |FROM o WHERE off < 10000 ORDER BY off, doc_id""".stripMargin

  /** The shared scoring CTE chain of the trained-quality-classifier
    * oracles, ending at `p` = (doc_id, label, score). `labelSql`
    * replaces the distilled heuristic verdict with a caller-graded
    * expression over the document row `d` — the FineWeb-Edu shape
    * ([[operators.QualityModel.zFrame]]'s `label` parameter); the
    * rest of the chain (features, Gram, solve, scoring) is shared
    * verbatim.
    */
  private def qualityScoreCtes: String = qualityScoreCtes(None)

  private def qualityScoreCtes(labelSql: Option[String]): String = {
    val pairs = for { i <- 0 until 8; j <- i until 8 } yield (i, j)
    val sums = pairs.map { case (i, j) => s"sum(z$i * z$j) AS s_${i}_$j" }
    s"""q AS ($qualityOracleSql),
       |r AS ($repetitionOracleSql),
       |l AS ($langidOracleSql),
       |z AS (SELECT d.doc_id,
       |    CAST(1.0 AS DECIMAL(18,6)) AS z0,
       |    CAST(round(coalesce(q.avg_word_len, 0.0), 6) AS DECIMAL(18,6)) AS z1,
       |    CAST(round(coalesce(q.punct_ratio, 0.0), 6) AS DECIMAL(18,6)) AS z2,
       |    CAST(round(coalesce(q.stop_ratio, 0.0), 6) AS DECIMAL(18,6)) AS z3,
       |    CAST(round(coalesce(r.top_frac, 1.0), 6) AS DECIMAL(18,6)) AS z4,
       |    CAST(round(coalesce(r.dup_token_frac, 1.0), 6) AS DECIMAL(18,6)) AS z5,
       |    CAST(round(CASE WHEN l.pred_lang = d.lang THEN 1.0 ELSE 0.0 END, 6) AS DECIMAL(18,6)) AS z6,
       |    CAST(round(${labelSql.getOrElse(
      """CASE WHEN q.keep AND coalesce(r.top_frac <= 0.15 AND r.dup_token_frac <= 0.9, false)
       |                     AND l.pred_lang = d.lang THEN 1.0 ELSE 0.0 END""".stripMargin)}, 6) AS DECIMAL(18,6)) AS z7
       |  FROM documents d JOIN q ON q.doc_id = d.doc_id
       |  LEFT JOIN r ON r.doc_id = d.doc_id JOIN l ON l.doc_id = d.doc_id),
       |g AS (SELECT ${sums.mkString(", ")} FROM z),
       |${ridgeSolveCtes("g", "1.0", Nil)},
       |p AS (SELECT doc_id, CAST(z7 AS DOUBLE) + 0.0 AS label,
       |  round($ridgeYhat, 6) + 0.0 AS score FROM z CROSS JOIN bx0)""".stripMargin
  }
}
