package graft
package queries

import graft.operators._
import graft.sources.Tables
import OracleBlocks._

/** Per-document text operators: tokens, quality signals, language and
  * script detection, PII and HTML scrubbing (TextOps). */
private[graft] object TextQueries extends Family {

  val queries: Seq[Query] = Seq(
    Query("text_repetition", (s, d) => TextOps.repetition(Tables(s, d).documents), repetitionOracleSql),
    Query("text_token_rank", (s, d) => TextOps.tokenRank(Tables(s, d).documents), tokenRankOracle()),
    // text_scripts: the identical literal codepoint-range classes
    // (java.util.regex and RE2 read them the same — the named
    // \p{...} script properties spell DIFFERENTLY per engine)
    Query("text_scripts", (s, d) => TextOps.scripts(Tables(s, d).documents), {
      val counts = operators.TextOps.scriptClasses.map { case (n, p) =>
        s"CAST(len(regexp_extract_all(text, '$p')) AS BIGINT) AS n_$n"
      }.mkString(",\n  ")
      s"""WITH c AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
         |  $counts FROM documents),
         |o AS (SELECT *, n_chars - n_latin - n_digit - n_cjk - n_space AS n_other FROM c)
         |SELECT doc_id, n_chars, n_latin, n_digit, n_cjk, n_space, n_other,
         |  CASE WHEN n_chars > 0 THEN ${ratio6("n_latin", "n_chars")} END AS latin_ratio,
         |  CASE WHEN n_chars > 0 THEN ${ratio6("n_cjk", "n_chars")} END AS cjk_ratio,
         |  CASE WHEN n_latin + n_digit + n_cjk + n_other = 0 THEN 'other'
         |       WHEN n_cjk >= greatest(n_latin, n_digit, n_other) THEN 'cjk'
         |       WHEN n_latin >= greatest(n_digit, n_other) THEN 'latin'
         |       WHEN n_digit >= n_other THEN 'digit' ELSE 'other' END AS main_script
         |FROM o ORDER BY doc_id""".stripMargin
    }),
    Query("text_normalize", (s, d) => TextOps.normalize(Tables(s, d).documents),
      """WITH n AS (SELECT doc_id, text,
        |  trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm FROM documents)
        |SELECT doc_id, CAST(length(norm) AS BIGINT) AS norm_chars,
        |  md5(norm) AS norm_hash, norm <> text AS changed
        |FROM n ORDER BY doc_id""".stripMargin),
    Query("text_langid", (s, d) => TextOps.langId(Tables(s, d).documents), langidOracleSql),
    // PII redaction: identical synthesized entities + identical RE2/
    // java.util.regex-parity patterns on both sides (see piiScrubOracle).
    Query("text_pii_scrub", (s, d) => TextOps.piiScrub(Tables(s, d).documents), piiScrubOracle),
    // HTML boilerplate stripping over synthesized doc_id-derived
    // markup (the pii_scrub synthesis pattern — §2 #28d)
    Query("text_html_extract", (s, d) => TextOps.htmlExtract(Tables(s, d).documents), htmlExtractOracle),
    Query("text_quality", (s, d) => TextOps.quality(Tables(s, d).documents), qualityOracleSql),
    Query("text_tokens", (s, d) => TextOps.tokenStats(Tables(s, d).documents),
      s"""WITH t AS (SELECT doc_id, text, $toksExpr AS w FROM documents)
        |SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars, CAST(len(w) AS BIGINT) AS ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS bpe_tokens,
        |  CASE WHEN bpe_tokens > 0
        |       THEN ${ratio6("n_chars", "bpe_tokens")}
        |  END AS chars_per_token
        |FROM t ORDER BY doc_id""".stripMargin),
    Query("text_fingerprint", (s, d) => TextOps.fingerprint(Tables(s, d).documents),
      s"""WITH t AS (SELECT doc_id, text, $toksExpr AS w FROM documents)
        |SELECT doc_id,
        |  coalesce(list_min([md5(array_to_string(w[i:i+4], ' ')) FOR i IN range(1, greatest(len(w)-4, 0) + 1)]),
        |           md5(text)) AS fingerprint
        |FROM t ORDER BY doc_id""".stripMargin),
    Query("text_winnow", (s, d) => TextOps.winnow(Tables(s, d).documents),
      s"""WITH t AS (SELECT doc_id, $toksExpr AS w FROM documents),
        |h AS (SELECT doc_id,
        |  [md5(array_to_string(w[i:i+2], ' ')) FOR i IN range(1, greatest(len(w)-2, 0) + 1)] AS hs
        |  FROM t WHERE len(w) >= 3),
        |f AS (SELECT doc_id,
        |  CASE WHEN len(hs) >= 4
        |       THEN list_distinct([list_min(hs[i:i+3]) FOR i IN range(1, len(hs)-3 + 1)])
        |       ELSE [list_min(hs)] END AS fps
        |  FROM h)
        |SELECT doc_id, unnest(fps) AS fingerprint FROM f
        |ORDER BY doc_id, fingerprint""".stripMargin),
    Query("text_tfidf", (s, d) => TextOps.tfidf(Tables(s, d).documents),
      s"""WITH t AS (SELECT doc_id, unnest($toksExpr) AS token FROM documents),
        |tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf FROM t GROUP BY doc_id, token),
        |df AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY token),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
        |s AS (SELECT doc_id, token, tf, df,
        |        ${ratio6("tf * (n_docs + 1)", "df + 1")} AS score
        |      FROM tf JOIN df USING (token) CROSS JOIN n),
        |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, token) AS BIGINT) AS rank FROM s)
        |SELECT doc_id, token, tf, df, score, rank FROM r WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin),
    Query("text_vocab_by_lang", (s, d) => TextOps.vocabByLangHeap(Tables(s, d).documents),
      s"""WITH t AS (SELECT lang, unnest($toksExpr) AS token FROM documents),
        |c AS (SELECT lang, token, CAST(count(*) AS BIGINT) AS n,
        |        ('0x' || substr(md5(token), 1, 15))::UBIGINT AS tid
        |      FROM t GROUP BY lang, token),
        |r AS (SELECT lang, token, n,
        |        CAST(row_number() OVER (PARTITION BY lang ORDER BY n DESC, tid) AS BIGINT) AS rank FROM c)
        |SELECT lang, token, n, rank FROM r WHERE rank <= 10 ORDER BY lang, rank""".stripMargin),
    Query("text_vocab", (s, d) => TextOps.vocab(Tables(s, d).documents),
      s"""WITH t AS (SELECT unnest($toksExpr) AS token FROM documents)
        |SELECT token, count(*) AS n FROM t GROUP BY token
        |ORDER BY n DESC, token LIMIT 50""".stripMargin),
    Query("text_surprisal", (s, d) => TextOps.surprisal(Tables(s, d).documents),
      s"""WITH t AS (SELECT doc_id, $toksExpr AS w FROM documents),
        |tok AS (SELECT doc_id, unnest(w) AS token FROM t),
        |freq AS (SELECT token, CAST(count(*) AS BIGINT) AS f FROM tok GROUP BY token),
        |tot AS (SELECT CAST(sum(f) AS BIGINT) AS total FROM freq),
        |s AS (SELECT doc_id, CAST(length(bin(total // f)) - 1 AS BIGINT) AS bits
        |      FROM tok JOIN freq USING (token) CROSS JOIN tot),
        |g AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(sum(bits) AS BIGINT) AS total_bits FROM s GROUP BY doc_id)
        |SELECT doc_id, n_tokens, total_bits,
        |  ${ratio6("total_bits", "n_tokens")} AS mean_bits
        |FROM g ORDER BY doc_id""".stripMargin),
  )

  /** text_token_rank oracle — the 3 power iterations unrolled as
    * CTEs with the IDENTICAL op order and 12-dp contribution
    * quantization as [[operators.TextOps.tokenRank]].
    */
  private def tokenRankOracle(iters: Int = 3, k: Int = 20): String = {
    val base =
      s"""WITH t AS (SELECT doc_id, $toksExpr AS w FROM documents),
         |e0 AS (SELECT unnest(w[1:len(w)-1]) AS src, unnest(w[2:len(w)]) AS dst
         |       FROM t WHERE len(w) >= 2),
         |edges AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS wt FROM e0 GROUP BY src, dst),
         |outw AS (SELECT src, CAST(sum(wt) AS BIGINT) AS wout FROM edges GROUP BY src),
         |nodes AS (SELECT DISTINCT unnest(w) AS token FROM t),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
         |r0 AS (SELECT token, CAST(1.0 AS DOUBLE) / CAST(n AS DOUBLE) AS rank
         |       FROM nodes CROSS JOIN nn)""".stripMargin
    val its = (1 to iters).map { i =>
      s"""c$i AS (SELECT dst, sum(CAST(round(r.rank * (CAST(wt AS DOUBLE) / CAST(wout AS DOUBLE)), 12)
         |             AS DECIMAL(28,12))) AS cin
         |      FROM edges JOIN outw USING (src) JOIN r${i - 1} r ON r.token = src GROUP BY dst),
         |r$i AS (SELECT nodes.token,
         |        CAST(0.15 AS DOUBLE) / CAST(nn.n AS DOUBLE)
         |          + CAST(0.85 AS DOUBLE) * coalesce(CAST(cin AS DOUBLE), CAST(0.0 AS DOUBLE)) AS rank
         |      FROM nodes CROSS JOIN nn LEFT JOIN c$i ON c$i.dst = nodes.token)""".stripMargin
    }
    // top-k membership must come from the RAW rank order (the Spark
    // side limits before rounding); rounding happens on the survivors.
    // The raw rank is carried out of the LIMIT subquery so the outer
    // SELECT can re-state the order explicitly — relying on DuckDB's
    // implicit insertion-order preservation would flake under
    // preserve_insertion_order=false.
    (base +: its).mkString(",\n") +
      s"""
         |SELECT token, round(raw_rank, 6) + 0.0 AS rank
         |FROM (SELECT token, rank AS raw_rank FROM r$iters ORDER BY rank DESC, token LIMIT $k)
         |ORDER BY raw_rank DESC, token""".stripMargin
  }

  /** text_pii_scrub oracle — rebuilds the identical doc_id-derived
    * PII entities ([[operators.TextOps.synthesizePii]]) and replays
    * the count + scrub chain with the SAME pattern strings (pulled
    * from [[operators.TextOps.piiPatterns]] so the two sides cannot
    * drift); the cleaned md5 pins the byte-exact redaction.
    */
  private def piiScrubOracle: String = {
    val pats = operators.TextOps.piiPatterns
    val counts = pats.map { case (n, p, _) =>
      s"CAST(len(regexp_extract_all(text, '$p')) AS BIGINT) AS n_${n}s"
    }.mkString(",\n  ")
    val clean = pats.foldLeft("text") { case (c, (_, p, t)) =>
      s"regexp_replace($c, '$p', '$t', 'g')"
    }
    val email = "' reach user' || doc_id || '@mail' || (doc_id % 7) || '.example.com now'"
    s"""WITH p AS (SELECT doc_id, text ||
       |    CASE WHEN doc_id % 4 = 0 THEN $email
       |         WHEN doc_id % 4 = 1 THEN ' dial ' || printf('555-%03d-%04d', doc_id % 1000, doc_id % 10000) || ' today'
       |         WHEN doc_id % 4 = 2 THEN ' host 10.' || (doc_id % 256) || '.' || ((doc_id // 256) % 256) || '.' || (doc_id % 100 + 1) || ' up'
       |         ELSE ' see https://docs.example.com/item/' || doc_id || ' for details' ||
       |           (CASE WHEN doc_id % 8 = 7 THEN $email ELSE '' END)
       |    END AS text FROM documents)
       |SELECT doc_id,
       |  $counts,
       |  CAST(length($clean) AS BIGINT) AS clean_len,
       |  md5($clean) AS clean_md5
       |FROM p ORDER BY doc_id""".stripMargin
  }

  /** text_html_extract oracle — identical synthesized page skeleton
    * + identical removal patterns ([[operators.TextOps.htmlPatterns]],
    * same parity domain as the PII patterns), line heuristics as
    * list_filter, entity decode as a literal replace chain with
    * `&amp;` last.
    */
  private def htmlExtractOracle: String = {
    val pats = operators.TextOps.htmlPatterns
    val counts = pats.map { case (n, p) =>
      s"CAST(len(regexp_extract_all(html, '$p')) AS BIGINT) AS n_${n}s"
    }.mkString(",\n  ")
    val untagged = pats.foldLeft("html") { case (c, (_, p)) =>
      s"regexp_replace($c, '$p', ' ', 'g')"
    }
    val decoded = operators.TextOps.htmlEntities.foldLeft("array_to_string(kept, chr(10))") {
      case (c, (e, r)) =>
        val rep = if (r == "'") "chr(39)" else s"'$r'"
        s"replace($c, '$e', $rep)"
    }
    s"""WITH h AS (SELECT doc_id,
       |  '<!DOCTYPE html>' || chr(10) || '<html><head><title>Doc ' || doc_id || '</title>' || chr(10) ||
       |  '<script>var page = ' || doc_id || ';</script>' || chr(10) ||
       |  '<style>.c' || (doc_id % 10) || ' { color: red }</style>' || chr(10) ||
       |  (CASE WHEN doc_id % 3 = 0 THEN '<!-- build ' || doc_id || ' -->' || chr(10) ELSE '' END) ||
       |  '</head><body>' || chr(10) ||
       |  '<nav>Home | About | Item ' || (doc_id % 50) || '</nav>' || chr(10) ||
       |  '<h1>Doc ' || doc_id || '</h1>' || chr(10) ||
       |  '<p>' || text || (CASE WHEN doc_id % 4 = 1 THEN ' &lt;cite&gt; &amp; &quot;quoted&quot; &#39;marked&#39;' ELSE '' END) || '</p>' || chr(10) ||
       |  '<footer>Copyright ' || (doc_id % 25 + 2000) || ' example.com</footer>' || chr(10) ||
       |  '</body></html>' AS html FROM documents),
       |u AS (SELECT doc_id, html, $untagged AS untagged FROM h),
       |k AS (SELECT doc_id, html, string_split(untagged, chr(10)) AS lines,
       |  list_filter(string_split(untagged, chr(10)),
       |    l -> len(trim(l)) >= 30 AND strpos(l, '|') = 0 AND NOT starts_with(trim(l), 'Copyright')) AS kept
       |  FROM u),
       |e AS (SELECT doc_id, html, lines, kept, $decoded AS extract FROM k)
       |SELECT doc_id,
       |  $counts,
       |  CAST(len(regexp_extract_all(html, '&[A-Za-z]+;|&#[0-9]+;')) AS BIGINT) AS n_entities,
       |  CAST(len(lines) AS BIGINT) AS n_lines,
       |  CAST(len(kept) AS BIGINT) AS n_kept,
       |  CAST(length(extract) AS BIGINT) AS extract_len,
       |  md5(extract) AS extract_md5
       |FROM e ORDER BY doc_id""".stripMargin
  }
}
