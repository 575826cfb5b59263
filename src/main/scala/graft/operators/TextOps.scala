package graft.operators

import graft.functions.Exact.ratio6
import graft.functions.Hashing._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.plans.HonestCheckpoint._

/** Text-analysis operators for training-data curation (SURVEY §2
  * #28-31): language scoring, quality features, token statistics,
  * and content fingerprints. Everything is per-row Column algebra —
  * no UDFs, no shuffles except the caller's, fully codegen'd — so
  * these run at scan speed over 100 TB of documents.
  *
  * The per-document scan → kernel operators that return rows in
  * doc_id order sort their narrow input rows BEFORE the kernel
  * projection (`documents.orderBy(doc_id).select(kernel…)`). A global
  * sort plans as a range exchange whose `RangePartitioner` first
  * samples the exchange's whole child in a job of its own, so a kernel
  * below the sort would run twice per answer. Above the sort it runs
  * once, in the post-shuffle stage; the shuffle carries the kernel's
  * input, not its output.
  */
object TextOps {

  /** Stopword marker sets per language (tiny, deliberately standard —
    * the scoring method matters, not the lists).
    */
  val markers: Map[String, Seq[String]] = Map(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein"),
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is"),
    "es" -> Seq("el", "la", "los", "y", "en", "que", "es"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "une"),
    "zh" -> Seq("的", "是", "了", "在", "我"))

  private val langs = markers.keys.toSeq.sorted // de, en, es, fr, zh

  /** Pre-tokenized corpus projection for multi-operator compositions:
    * (doc_id, lang, text, toks). Operators in this file resolve
    * their token array via [[toksOf]], so passing this frame —
    * typically eagerly materialized by the caller — lets a
    * composition like [[graft.operators.Curation.pipeline]] tokenize
    * the corpus ONCE instead of once per sub-operator (the regex
    * split is the CPU-dominant step at scale).
    */
  /** `extra` carries caller columns (computed against the INPUT
    * frame — they may read any column the fixed projection drops)
    * through in the SAME select: a join-free alternative to
    * re-attaching them afterwards, which at corpus scale shuffles
    * the token arrays on doc_id (the quality_model_labeled 100×
    * probe read 6× the unlabeled path before this).
    */
  def withToks(documents: DataFrame, extra: Seq[(Column, String)] = Nil): DataFrame =
    documents.select(Seq(col("doc_id"), col("lang"), col("text"),
      tokens(col("text")).as("toks")) ++ extra.map { case (c, n) => c.as(n) }: _*)

  /** The token array: the precomputed `toks` column when the caller
    * supplied one, else tokenized from `text` in place.
    */
  private def toksOf(df: DataFrame): Column =
    if (df.columns.contains("toks")) col("toks") else tokens(col("text"))

  /** Text canonicalization for dedup keying: lowercase + collapse
    * every whitespace run to one space + trim, plus the md5 of the
    * canonical form — the normalization pass that runs BEFORE exact
    * dedup so trivially-reformatted copies (case, line wrapping)
    * collapse into one hash group. Pure per-row Column algebra over
    * the sorted scan rows; `changed` marks docs the normalization
    * actually rewrote.
    */
  def normalize(documents: DataFrame): DataFrame = {
    val norm = trim(regexp_replace(lower(col("text")), "\\s+", " "))
    documents
      .select(col("doc_id"), col("text"))
      .orderBy(col("doc_id"))
      .select(col("doc_id"), col("text"), norm.as("norm"))
      .select(col("doc_id"),
        length(col("norm")).cast("long").as("norm_chars"),
        md5(col("norm")).as("norm_hash"),
        (col("norm") =!= col("text")).as("changed"))
  }

  /** Language ID by marker-token counting (with multiplicity),
    * argmax with lexicographic tiebreak — deterministic n-gram
    * profile scoring in miniature.
    */
  /** Append the language marker scores + argmax `pred_lang` to `df`
    * in place — the projection half of [[langId]], factored out like
    * [[withQualityCols]] for join-free fused consumers.
    */
  private[operators] def withLangCols(df: DataFrame): DataFrame = {
    val toks = toksOf(df)
    def score(l: String): Column =
      size(filter(toks, t => t.isInCollection(markers(l)))).cast("long")
    // argmax, first-in-lexicographic-order wins ties
    val pred =
      when(col("s_de") >= greatest(col("s_en"), col("s_es"), col("s_fr"), col("s_zh")), "de")
        .when(col("s_en") >= greatest(col("s_es"), col("s_fr"), col("s_zh")), "en")
        .when(col("s_es") >= greatest(col("s_fr"), col("s_zh")), "es")
        .when(col("s_fr") >= col("s_zh"), "fr")
        .otherwise("zh")
    langs.foldLeft(df)((d, l) => d.withColumn(s"s_$l", score(l)))
      .withColumn("pred_lang", pred)
  }

  def langId(documents: DataFrame): DataFrame =
    withLangCols(documents.orderBy(col("doc_id")))
      .select(col("doc_id") +: col("lang") +: langs.map(l => col(s"s_$l")) :+ col("pred_lang"): _*)

  /** Quality features: counts, ratios, and a keep flag — the
    * classic length/punctuation/stopword heuristics.
    */
  /** Append the quality count/ratio/keep columns to `df` IN PLACE
    * (all other columns ride along) — the per-row projection half of
    * [[quality]], factored out so a composite consumer
    * ([[QualityModel.zFrame]]) can fuse it with other projection
    * features in ONE scan instead of re-attaching them by a
    * corpus-sized doc_id join.
    */
  private[operators] def withQualityCols(df: DataFrame): DataFrame = {
    val toks = toksOf(df)
    val en = markers("en")
    df
      .withColumn("n_chars", length(col("text")).cast("long"))
      .withColumn("n_words", size(toks).cast("long"))
      .withColumn("sum_word_len",
        aggregate(transform(toks, t => length(t).cast("long")), lit(0L), (a, v) => a + v))
      .withColumn("n_punct", regexp_count(col("text"), lit("[^A-Za-z0-9\\s]")).cast("long"))
      .withColumn("n_stop", size(filter(toks, t => t.isInCollection(en))).cast("long"))
      // Guards: empty docs make these ANSI division errors, not NaNs.
      .withColumn("avg_word_len", when(col("n_words") > 0, ratio6("sum_word_len", "n_words")))
      .withColumn("punct_ratio", when(col("n_chars") > 0, ratio6("n_punct", "n_chars")))
      .withColumn("stop_ratio", when(col("n_words") > 0, ratio6("n_stop", "n_words")))
      .withColumn("keep",
        col("n_words") >= 5 && col("punct_ratio") <= 0.1 &&
          col("avg_word_len") >= 2.0 && col("avg_word_len") <= 12.0)
  }

  def quality(documents: DataFrame): DataFrame =
    withQualityCols(documents.orderBy(col("doc_id")))
      .select(col("doc_id"), col("n_chars"), col("n_words"), col("sum_word_len"),
        col("n_punct"), col("n_stop"), col("avg_word_len"), col("punct_ratio"),
        col("stop_ratio"), col("keep"))

  /** Script character classes as EXPLICIT codepoint ranges — named
    * unicode properties spell differently in java.util.regex
    * (\p{IsHan}) and RE2 (\p{Han}), so the parity-safe form is
    * literal BMP ranges both engines read identically (the PII/html
    * pattern-domain lesson).
    */
  private[graft] val scriptClasses: Seq[(String, String)] = Seq(
    "latin" -> "[A-Za-zÀ-ɏ]",
    "digit" -> "[0-9]",
    "cjk" -> "[一-鿿]",
    "space" -> "[ \t\r\n]")

  /** Per-document script profile — the multilingual-curation
    * companion to [[langId]]'s marker voting: counts and ratios of
    * Latin / digit / CJK / whitespace / other characters, plus the
    * dominant script (argmax over non-space classes, fixed
    * first-wins tiebreak like [[langId]]). A corpus crawler uses
    * this to route docs to script-appropriate pipelines and to flag
    * mixed-script spam (e.g. Latin text stuffed with CJK SEO
    * tokens). Pure per-row Column algebra, no UDFs, run once above
    * the doc_id sort of the scan rows; ratios are tie-exact
    * ([[graft.functions.Exact.ratio6]]).
    */
  def scripts(documents: DataFrame): DataFrame = {
    val counts = scriptClasses.map { case (n, p) =>
      regexp_count(col("text"), lit(p)).cast("long").as(s"n_$n")
    }
    def ratio(n: String): Column = when(col("n_chars") > 0, ratio6(n, "n_chars"))
    documents.orderBy(col("doc_id"))
      .select(col("doc_id") +: length(col("text")).cast("long").as("n_chars") +: counts: _*)
      .withColumn("n_other",
        col("n_chars") - col("n_latin") - col("n_digit") - col("n_cjk") - col("n_space"))
      .withColumn("latin_ratio", ratio("n_latin"))
      .withColumn("cjk_ratio", ratio("n_cjk"))
      .withColumn("main_script",
        // degenerate guard: a whitespace-only (or empty) document has
        // every non-space count at 0, where the argmax chain's first
        // branch (0 >= 0) would mislabel it "cjk" — route it to
        // "other" instead of a script pipeline (advisor round 14)
        when(col("n_latin") + col("n_digit") + col("n_cjk") + col("n_other") === 0, "other")
          .when(col("n_cjk") >= greatest(col("n_latin"), col("n_digit"), col("n_other")), "cjk")
          .when(col("n_latin") >= greatest(col("n_digit"), col("n_other")), "latin")
          .when(col("n_digit") >= col("n_other"), "digit")
          .otherwise("other"))
  }

  /** Token statistics: whitespace tokens vs a BPE-ish pre-tokenizer
    * (letter runs / digit runs / single punctuation marks).
    */
  def tokenStats(documents: DataFrame): DataFrame =
    documents.orderBy(col("doc_id")).select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        size(tokens(col("text"))).cast("long").as("ws_tokens"),
        regexp_count(col("text"), lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]")).cast("long").as("bpe_tokens"))
      .withColumn("chars_per_token", when(col("bpe_tokens") > 0, ratio6("n_chars", "bpe_tokens")))

  /** Corpus vocabulary: global token frequencies, top-k by count.
    * Explode → hash-aggregate (map-side partial combine collapses to
    * the vocabulary size per partition) → TakeOrderedAndProject for
    * the global top-k: no full sort, no window.
    */
  def vocab(documents: DataFrame, k: Int = 50): DataFrame =
    documents.select(explode(tokens(col("text"))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token"))
      .limit(k)

  /** Per-language top-k vocabulary via the bounded-heap aggregate —
    * the STRING-id generalization of the grouped top-k pattern:
    * [[graft.plans.TopKLongPairs]] carries (count, hex60(token))
    * pairs, and the token string is restored by joining the winners
    * back to a per-(lang, tid) token mapping. Tiebreak is therefore
    * hex60-order, which the oracle reproduces exactly via the same
    * md5-prefix arithmetic (SURVEY §5 hash parity). The heap shuffle
    * carries ≤ k pairs per (task, lang); the join-back branch reuses
    * the counts shuffle exchange and aggregates the vocabulary once
    * more to one row per tid (min-token on a 2⁻⁶⁰ hex60 collision —
    * deterministic rather than fanned out).
    */
  def vocabByLangHeap(documents: DataFrame, k: Int = 10): DataFrame = {
    import graft.plans.TopKLongPairs
    val counts = documents
      .select(col("lang"), explode(tokens(col("text"))).as("token"))
      .groupBy(col("lang"), col("token"))
      .agg(count(lit(1)).as("n"))
      .withColumn("tid", hex60(col("token")))
    // materialized: ≤ k rows per lang, reused twice below (winner-key
    // broadcast filter + the final join's left side) — without the
    // barrier both uses re-run the corpus-sized count aggregation.
    val top = counts
      .groupBy(col("lang"))
      .agg(TopKLongPairs(col("n"), col("tid"), k).as("top"))
      .select(col("lang"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("lang"), col("t.id").as("tid"), col("t.score").as("n"),
        (col("pos") + 1).cast("long").as("rank"))
      .honestCheckpoint()
    // Restore token strings for the k·langs WINNERS only: broadcast
    // the winner keys into a hash-join filter over the counts stream,
    // then take the min-token collision tiebreak. The mapping
    // aggregate previously exchanged + SORT-aggregated the whole
    // corpus vocabulary (min over a string has no mutable buffer);
    // restricted first, its exchange and sort carry ≤ k rows per lang
    // (guide §2.3 — shuffle fewer bytes). Bit-identical: the
    // restriction drops whole (lang, tid) groups, never rows within a
    // surviving group, so min(token) per kept key is unchanged.
    val mapping = counts
      .join(broadcast(top.select(col("lang"), col("tid"))), Seq("lang", "tid"))
      .groupBy(col("lang"), col("tid")).agg(min(col("token")).as("token"))
    top.join(broadcast(mapping), Seq("lang", "tid"))
      .select(col("lang"), col("token"), col("n"), col("rank"))
      .orderBy(col("lang"), col("rank"))
  }

  /** Per-document top-k terms by tf-idf. Term frequency is an
    * explode → hash aggregation; document frequency aggregates the
    * (already distinct) tf rows per token and broadcasts back (the
    * df table is the vocabulary — bounded; at corpus scales where it
    * is not, drop the broadcast hint and this becomes a shuffled
    * hash join on token).
    *
    * Engine parity: idf is the LOG-FREE rational (N+1)/(df+1) —
    * IEEE division is correctly rounded and identical across
    * engines, whereas ln() implementations differ by ulps. Ranking
    * orders by the 6-decimal-rounded score (identical both sides)
    * with token tiebreak, so rank assignment is total and exact.
    */
  def tfidf(documents: DataFrame, k: Int = 3): DataFrame = {
    // ONE tokenize scan for the whole operator (the surprisal
    // pattern): the (doc_id, token, tf) frame feeds BOTH sides of the
    // tf⋈df join — inline, Catalyst plans the tokenize+explode+agg
    // chain twice (plan-verified in round 6: six parquet scans, zero
    // ReusedExchange). Materialize it once; at 100 TB this halves the
    // dominant stage.
    val tf = Spread(documents, "doc_id")
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
      .honestCheckpoint()
    val df = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val nDocs = documents.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("token"))
    // df is vocabulary-sized — it grows with the corpus (ids, numbers,
    // typos), so no forced broadcast; AQE broadcasts it while small.
    tf.join(df, "token")
      .crossJoin(broadcast(nDocs))
      .withColumn("num", col("tf") * (col("n_docs") + 1))
      .withColumn("den", col("df") + 1)
      .withColumn("score", ratio6("num", "den"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("token"), col("tf"), col("df"), col("score"), col("rank"))
      .orderBy(col("doc_id"), col("rank"))
  }

  /** Per-document unigram surprisal, quantized to WHOLE BITS so it is
    * exact on any engine: a token with corpus frequency f carries
    * ⌊log₂(total/f)⌋ bits, and ⌊log₂⌋ of a rational is pure integer
    * arithmetic — bit_length(total DIV f) − 1 — so no engine-varying
    * ln() ulps enter the oracle compare (the same parity rule that
    * shaped [[tfidf]]'s rational score). High mean-bits docs are
    * rare-token-dense (jargon, noise, other-language leakage); low
    * ones are stopword soup — the perplexity-proxy quality signal an
    * LLM pipeline cuts on before it can afford a model pass.
    *
    * Scale shape: one tokenize+explode scan feeds both the frequency
    * aggregate (vocabulary-sized, map-side combined) and the scoring
    * join; the corpus-total is a 1-row broadcast. The token join is
    * hash-partitioned on token — Zipf head keys are skewed, which is
    * exactly what AQE skew-join splitting handles (value rows are a
    * few dozen bytes).
    */
  def surprisal(documents: DataFrame): DataFrame = {
    // ONE tokenize scan for the whole operator: the per-(doc, token)
    // count frame is materialized once (eager localCheckpoint, the
    // tokenRank pattern) and feeds the vocabulary frequencies, the
    // corpus total, AND the scoring join — inline, each consumer
    // would re-run the regex tokenization over the corpus (3 scans).
    // Scoring then weights each distinct (doc, token) by its count
    // instead of fanning out per occurrence, so the token join
    // carries vocabulary-bounded rows per doc.
    val tf = Spread(documents, "doc_id")
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("cnt"))
      .honestCheckpoint()
    val freq = tf.groupBy(col("token")).agg(sum(col("cnt")).as("f"))
    val total = freq.agg(sum(col("f")).as("total"))
    tf.join(freq, "token")
      .crossJoin(broadcast(total))
      .withColumn("bits",
        (length(conv(expr("total DIV f"), 10, 2)) - 1).cast("long"))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_tokens"),
        sum(col("cnt") * col("bits")).as("total_bits"))
      .withColumn("mean_bits", ratio6("total_bits", "n_tokens"))
      .orderBy(col("doc_id"))
  }

  /** The FROZEN unigram LM behind [[surprisal]]: the vocabulary
    * frequency table plus the corpus total — fit ONCE on a reference
    * corpus and served against any later batch ([[surprisalServe]]).
    * This is the CCNet deployment shape (Wenzek et al. 2020 ship the
    * LM with the pipeline; incoming shards never refit it): the
    * model is vocabulary-bounded data, not corpus-sized.
    */
  def surprisalModel(documents: DataFrame): (DataFrame, Long) = {
    val freq = Spread(documents, "doc_id")
      .select(explode(tokens(col("text"))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("f"))
      .honestCheckpoint()
    val total = freq.agg(sum(col("f"))).head().getLong(0)
    (freq, total)
  }

  /** Per-doc mean_bits of a BATCH against a frozen LM — the serve
    * half of [[surprisalModel]], bit-identical to [[surprisal]] when
    * the model was fit on a corpus containing the batch's vocabulary
    * (same bits formula, same exact half-up mean). Unknown tokens
    * read the rarest-class convention f = 1 — the MAXIMUM surprisal
    * the model can assign (floor(log₂ total) bits), which routes
    * heavy-OOV docs toward the tail bucket exactly as CCNet's LM
    * treats text its vocabulary has never seen.
    */
  def surprisalServe(freq: DataFrame, total: Long, batch: DataFrame): DataFrame = {
    require(total > 0, "surprisalServe needs a non-empty frozen model")
    val tf = batch
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("cnt"))
    tf.join(freq, Seq("token"), "left")
      .withColumn("f", coalesce(col("f"), lit(1L)))
      .withColumn("bits",
        (length(conv(expr(s"${total}L DIV f"), 10, 2)) - 1).cast("long"))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_tokens"),
        sum(col("cnt") * col("bits")).as("total_bits"))
      .withColumn("mean_bits", ratio6("total_bits", "n_tokens"))
  }

  /** Winnowing fingerprints (Schleimer et al.): hash every w-token
    * shingle, slide a window of `window` hashes, keep each window's
    * minimum, dedup. Guarantees any sufficiently long shared
    * substring yields a shared fingerprint — the plagiarism/overlap
    * detection primitive. Per-row array algebra; one row per
    * selected fingerprint.
    */
  def winnow(documents: DataFrame, w: Int = 3, window: Int = 4): DataFrame = {
    // Materialize the hash array as its own column FIRST: inlining it
    // into the window lambda would re-evaluate the whole md5 array per
    // window index (O(n²) md5 calls per doc — measured 100× slower).
    // As a multiply-referenced non-cheap alias it survives
    // CollapseProject, so each row hashes its shingles exactly once.
    val hashed = documents
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), transform(shinglesOf(col("toks"), w), s => md5(s)).as("hs"))
    val n = size(col("hs"))
    val fps = when(n >= window,
      array_distinct(transform(sequence(lit(1), n - lit(window - 1)),
        i => array_min(slice(col("hs"), i, lit(window))))))
      .otherwise(when(n > 0, array(array_min(col("hs")))).otherwise(array().cast("array<string>")))
    hashed
      .select(col("doc_id"), explode(fps).as("fingerprint"))
      .orderBy(col("doc_id"), col("fingerprint"))
  }

  /** Content fingerprint: minimum md5 over rolling 5-token shingles
    * (min-hash winnowing); short docs fall back to whole-text md5.
    * Grouping by fingerprint clusters near-identical prefixes cheaply.
    */
  /** Repetition metrics per document — the Gopher-style "repetitive
    * junk" filters for pretraining curation: most-frequent-token
    * share, share of token occurrences that are duplicates, share of
    * 2-gram occurrences that are duplicates, and the longest run of
    * one token repeated consecutively. High values on any of these
    * mark boilerplate/spam documents a quality pass should drop.
    *
    * Scale shape: ONE up-front repartition on doc_id, then every
    * stage (token counts, 2-gram counts, run-length windows, the
    * three per-doc reductions and their joins) is clustered by
    * doc_id and reuses that single Exchange — hash(doc_id) satisfies
    * the (doc_id, token)/(doc_id, gram) groupings too, so nothing
    * reshuffles the exploded rows. Work is linear in corpus tokens.
    * The top token tiebreaks deterministically (max count, then
    * lexicographically smallest token) via a single min(struct)
    * aggregate, no second window pass.
    */
  def repetition(documents: DataFrame): DataFrame = {
    // Tokenize ONCE (the tfidf/tokenRank lesson): the token-count,
    // 2-gram, and run-length branches each re-ran the regex
    // tokenizer from the shared exchange output — materializing the
    // (doc_id, toks) frame makes the corpus-sized tokenize a single
    // pass. The checkpoint re-declares the explicit repartition's
    // hash(doc_id) partitioning (AQE checkpoints lose it), so every
    // downstream grouping/join still plans exchange-free on it.
    val base = Spread(documents, "doc_id")
      .select(col("doc_id"), toksOf(documents).as("toks"))
      .honestCheckpointHashPartitioned(Spread.partitions(documents), "doc_id")
    val tok = base.select(col("doc_id"), posexplode(col("toks")).as(Seq("pos", "token")))
    // The top token is min(struct(-cnt, token)) — a struct min has no
    // mutable aggregation buffer, so Spark planned it as a
    // SortAggregate over the whole per-doc vocabulary (an in-partition
    // sort of the corpus-sized distinct-token frame). Replace it with
    // plain HASH aggregates plus a winner-retrieval join, bit-identical
    // by construction: max(cnt) per doc names the winning count, the
    // join keeps exactly the tokens carrying it, and min(token) over
    // that tie set is the declared lexicographic tiebreak. The tie set
    // is small only when the doc repeats a token: at wc = 1 (every
    // token unique) it is the doc's whole vocabulary, so on
    // all-unique-token corpora the join survivors reach corpus-token
    // scale. That stays linear and hash-aggregated, just a constant
    // factor over a prefix-bounded filter; the answer is unchanged.
    val tokCounts = tok.groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("cnt"))
    val perDoc = tokCounts.groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_tokens"),
        sum(when(col("cnt") > 1, col("cnt")).otherwise(0L)).as("dup_tok"),
        max(col("cnt")).as("wc"))
    // winner retrieval: both sides ride the same hash(doc_id)
    // partitioning (no exchange); SHUFFLE_HASH keeps it sort-free
    // (a sort-merge join would re-introduce the corpus-scale sort
    // the hash-aggregable max just removed). The winner filter is
    // written `cnt >= wc` — equivalent to equality since wc is the
    // per-doc MAX of cnt — because an equality would be extracted
    // into the hash-join KEYS, and requireAllClusterKeysForCoPartition
    // would then re-shuffle both sides on (cnt, doc_id); as an
    // inequality it stays a post-probe join condition and the join
    // keeps keying (and co-partitioning) on doc_id alone.
    val winner = tokCounts
      .join(perDoc.select(col("doc_id").as("did"), col("wc")).hint("SHUFFLE_HASH"),
        col("doc_id") === col("did") && col("cnt") >= col("wc"))
      .groupBy(col("doc_id"))
      // all survivors share the winning cnt (= wc), so max(cnt) is
      // exact; min(token) is the declared lexicographic tiebreak over
      // the tie set.
      .agg(min(col("token")).as("top_t"), max(col("cnt")).as("top_n"))
    val perTok = perDoc.join(winner.hint("SHUFFLE_HASH"), "doc_id")
    val gram = base.select(col("doc_id"), explode(shinglesOf(col("toks"), 2)).as("s"))
      .groupBy(col("doc_id"), col("s")).agg(count(lit(1)).as("cnt"))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("total2"),
        sum(when(col("cnt") > 1, col("cnt")).otherwise(0L)).as("dup2"))
    val ord = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val runs = tok
      .withColumn("chg", when(lag(col("token"), 1).over(ord).isNull ||
        col("token") =!= lag(col("token"), 1).over(ord), 1L).otherwise(0L))
      .withColumn("run_id", sum(col("chg")).over(
        ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("run_id")).agg(count(lit(1)).as("run_len"))
      .groupBy(col("doc_id")).agg(max(col("run_len")).as("max_run"))
    perTok.join(gram, "doc_id").join(runs, "doc_id")
      .select(col("doc_id"), col("n_tokens"),
        col("top_t").as("top_token"), col("top_n"),
        ratio6("top_n", "n_tokens").as("top_frac"),
        ratio6("dup_tok", "n_tokens").as("dup_token_frac"),
        ratio6("dup2", "total2").as("dup_2gram_frac"),
        col("max_run"))
      .orderBy(col("doc_id"))
  }

  /** PageRank over the token-adjacency graph — graph analytics as
    * fixed-point-free iterative dataflow: nodes are distinct tokens,
    * edges are adjacent-token bigrams weighted by corpus count, and
    * `iters` unrolled power iterations build ONE declarative plan
    * (no driver loop state, no actions — Catalyst sees all three
    * iterations). Edge extraction is the only corpus-sized stage;
    * every iteration then joins vocabulary-sized frames on `src`.
    *
    * Engine parity for an iterative double computation: raw double
    * sums are partition-order-dependent, so each edge contribution
    * rank·w/W is rounded to 12 decimals and summed EXACTLY as
    * DECIMAL(28,12) — the fold is order-independent and the oracle
    * replays it term-for-term. The damping arithmetic
    * 0.15/N + 0.85·Σ runs in doubles with the identical op order.
    * (This computes deterministic 12-dp-quantized PageRank — the
    * quantization error per iteration is ≤ |E|·5e-13, irrelevant at
    * rank scale, and both engines compute the same quantity.)
    */
  def tokenRank(documents: DataFrame, iters: Int = 3, k: Int = 20): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    def dec12(c: Column): Column = round(c, 12).cast(DecimalType(28, 12))
    // The corpus-sized tokenize→explode stage runs ONCE: edges and
    // nodes are materialized as eager localCheckpoints before the
    // iteration plan is built. Without this the 3 unrolled iterations
    // each referenced the raw tokenization subtree and re-scanned the
    // corpus ~3× (ReuseExchange can't dedupe across the differing
    // join trees). toks is cached only for the two derivations, then
    // released; the checkpoint blocks are ContextCleaner-managed (no
    // CacheManager residue), at the usual localCheckpoint cost of
    // non-resilient blocks on executor loss.
    val toks = Spread(documents, "doc_id")
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .cache()
    // Shuffle audit (round 11): the per-iteration Exchange on src
    // over the stored edge blocks is NECESSARY-as-written — storing
    // the frame pre-partitioned on src does not remove it, because a
    // LogicalRDD's outputPartitioning does not survive the attribute
    // re-aliasing that deduplicates the three self-referencing
    // iteration subtrees (measured: same serving plan, one extra
    // build shuffle). What keeps it cheap is ReuseExchange: the three
    // iterations' edge exchanges are identical subtrees, so the edge
    // frame is shuffled ONCE at runtime and the other two iterations
    // read the reused exchange output.
    val edges = toks.filter(size(col("toks")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(toks) - 1), i -> struct(toks[i-1] AS src, toks[i] AS dst))")).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("wt"))
      .honestCheckpoint()
    val nodes = toks.select(explode(col("toks")).as("token")).distinct()
      .honestCheckpoint()
    toks.unpersist()
    // vocabulary-sized; checkpointed so each iteration joins stored
    // blocks instead of re-shuffling edges per iteration
    val outW = edges.groupBy(col("src")).agg(sum(col("wt")).as("wout"))
      .honestCheckpoint()
    // Vocabulary size as a DRIVER literal (one long — a bounded model
    // parameter, the centroid-collect class). As a 1-row crossJoined
    // aggregate it was re-computed by EVERY iteration's r rebuild:
    // iters+1 full vocabulary scans plus a BroadcastNestedLoopJoin
    // per rebuild, all for a constant. 1.0/n and 0.15/n are the same
    // correctly-rounded IEEE divisions wherever they run, so the
    // ranks — and the oracle replay — are bit-identical.
    val nNodes = nodes.count().toDouble
    var r = nodes.select(col("token"), lit(1.0 / nNodes).as("rank"))
    for (_ <- 1 to iters) {
      val contrib = edges.join(outW, "src")
        .join(r.select(col("token").as("src"), col("rank")), "src")
        .select(col("dst"),
          dec12(col("rank") * (col("wt").cast("double") / col("wout").cast("double"))).as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("cin"))
      r = nodes
        .join(contrib.select(col("dst").as("token"), col("cin")), Seq("token"), "left")
        .select(col("token"),
          (lit(0.15 / nNodes)
            + lit(0.85) * coalesce(col("cin").cast("double"), lit(0.0))).as("rank"))
    }
    r.orderBy(col("rank").desc, col("token")).limit(k)
      .select(col("token"), (round(col("rank"), 6) + lit(0.0)).as("rank"))
  }

  /** PII patterns shared verbatim between the Spark scrubber and the
    * DuckDB oracle. Parity domain: no lookaround, no backreferences,
    * `\b`/`\d` and bounded quantifiers only — the subset where
    * java.util.regex and RE2 agree match-for-match.
    */
  val piiPatterns: Seq[(String, String, String)] = Seq(
    ("url", "https?://[A-Za-z0-9./_%-]+", "<URL>"),
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("phone", "\\b\\d{3}-\\d{3}-\\d{4}\\b", "<PHONE>"),
    ("ip", "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "<IP>"))

  /** Deterministic PII injection — the text analog of
    * [[Multimodal.synthesizeAv]]'s fabricated payloads: the corpus
    * carries no addresses or numbers, so the scrubber's inputs are
    * synthesized doc_id-derived entities appended to the real text
    * (doc_id mod 4 picks the entity class; mod 8 = 7 appends a
    * second entity so multi-hit counting is exercised). Both engines
    * rebuild the identical strings, so scrub counts and the cleaned
    * hash carry a full oracle.
    */
  def synthesizePii(documents: DataFrame): DataFrame = {
    val id = col("doc_id")
    val email = concat(lit(" reach user"), id, lit("@mail"), id % 7, lit(".example.com now"))
    val phone = concat(lit(" dial "),
      format_string("555-%03d-%04d", id % 1000, id % 10000), lit(" today"))
    val ip = concat(lit(" host 10."), id % 256, lit("."), expr("(doc_id DIV 256) % 256"),
      lit("."), id % 100 + 1, lit(" up"))
    val url = concat(lit(" see https://docs.example.com/item/"), id, lit(" for details"))
    documents.select(id,
      concat(col("text"),
        when(id % 4 === 0, email)
          .when(id % 4 === 1, phone)
          .when(id % 4 === 2, ip)
          .otherwise(when(id % 8 === 7, concat(url, email)).otherwise(url)))
        .as("text"))
  }

  /** PII scrubbing — the redaction pass every training-data pipeline
    * runs before text reaches a model: count then replace URLs,
    * emails, phone numbers, and IPv4 addresses with typed tokens
    * (counts are per-pattern over the RAW text — independent, so an
    * IP inside a URL counts in both n_urls and n_ips; only the
    * REPLACEMENT chain is ordered, URL first so the replaced span is
    * the whole URL — the oracle computes both the same way). Pure
    * per-row Column algebra (regexp_count + a regexp_replace chain,
    * codegen'd). The presentation sort shuffles the scan rows, and the
    * synthesis and the scrub run once, after the sort; output carries
    * the counts, the cleaned length, and the md5 of the cleaned text,
    * which pins the entire scrub byte-for-byte under the DuckDB oracle
    * without shipping the full text.
    */
  def piiScrub(documents: DataFrame): DataFrame = {
    val withPii = synthesizePii(documents.orderBy(col("doc_id")))
    val counts = piiPatterns.map { case (name, pat, _) =>
      regexp_count(col("text"), lit(pat)).cast("long").as(s"n_${name}s")
    }
    val cleaned = piiPatterns.foldLeft(col("text")) { case (c, (_, pat, token)) =>
      regexp_replace(c, pat, token)
    }
    withPii.select(col("doc_id") +: counts :+ cleaned.as("clean"): _*)
      .select(col("doc_id"), col("n_urls"), col("n_emails"), col("n_phones"),
        col("n_ips"), length(col("clean")).cast("long").as("clean_len"),
        md5(col("clean")).as("clean_md5"))
  }

  /** Markup-removal patterns shared verbatim between the Spark
    * extractor and the DuckDB oracle — same parity domain as
    * [[piiPatterns]] (no lookaround/backreferences; `[^<]`/`[^>]`
    * content classes instead of non-greedy dot so matching is
    * single-pass in both engines). Script/style bodies match via
    * "no '<' until the closing tag" — exactly the shape
    * [[synthesizeHtml]] fabricates, stated as the operator's
    * documented (and realistic: inline analytics snippets) domain.
    */
  val htmlPatterns: Seq[(String, String)] = Seq(
    ("script", "<script[^<]*</script>"),
    ("style", "<style[^<]*</style>"),
    ("comment", "<!--[^>]*-->"),
    ("tag", "</?[A-Za-z!][^>]*>"))

  /** HTML entities decoded AFTER tag stripping (the standard order:
    * a decoded `&lt;tag&gt;` must not re-enter the tag stripper),
    * `&amp;` LAST so `&amp;lt;` decodes to the literal `&lt;` like a
    * real extractor. Literal string replaces — no regex.
    */
  val htmlEntities: Seq[(String, String)] = Seq(
    ("&lt;", "<"), ("&gt;", ">"), ("&quot;", "\""), ("&#39;", "'"), ("&amp;", "&"))

  /** Deterministic HTML wrapping — [[synthesizePii]]'s pattern for
    * markup: the corpus carries no HTML, so the extractor's input is
    * the real text wrapped in a doc_id-derived page skeleton (title/
    * script/style head, nav with pipe separators, h1, footer with a
    * Copyright line — the classic boilerplate shapes), with a
    * comment block every third doc and an entity cluster every
    * doc_id % 4 == 1. Both engines rebuild identical strings, so
    * every count and the extracted-text hash carry a full oracle.
    */
  def synthesizeHtml(documents: DataFrame): DataFrame = {
    val id = col("doc_id")
    val entities = when(id % 4 === 1,
      lit(" &lt;cite&gt; &amp; &quot;quoted&quot; &#39;marked&#39;")).otherwise(lit(""))
    val comment = when(id % 3 === 0,
      concat(lit("<!-- build "), id, lit(" -->\n"))).otherwise(lit(""))
    documents.select(id, concat(
      lit("<!DOCTYPE html>\n<html><head><title>Doc "), id, lit("</title>\n"),
      lit("<script>var page = "), id, lit(";</script>\n"),
      lit("<style>.c"), id % 10, lit(" { color: red }</style>\n"),
      comment,
      lit("</head><body>\n"),
      lit("<nav>Home | About | Item "), id % 50, lit("</nav>\n"),
      lit("<h1>Doc "), id, lit("</h1>\n"),
      lit("<p>"), col("text"), entities, lit("</p>\n"),
      lit("<footer>Copyright "), id % 25 + 2000, lit(" example.com</footer>\n"),
      lit("</body></html>")).as("html"))
  }

  /** HTML/markup boilerplate stripping — the extraction pass every
    * web-scale pretraining pipeline runs before quality scoring and
    * dedup: drop script/style/comment blocks, strip tags (replaced
    * by a space so adjacent words don't fuse), keep only CONTENT
    * lines (the boilerplate-line heuristic: a kept line has ≥ 30
    * trimmed chars, no '|' menu separators, and is not a Copyright
    * footer), then decode entities in the surviving text. Counts are
    * per-pattern over the RAW html (independent, the [[piiScrub]]
    * convention); only the removal chain is ordered. Pure per-row
    * Column algebra — regexp chains + one bounded line filter per
    * doc — run once, like the page synthesis, after the presentation
    * sort of the scan rows; output pins the whole extraction
    * byte-for-byte via length + md5 without shipping the text.
    */
  def htmlExtract(documents: DataFrame): DataFrame = {
    val withHtml = synthesizeHtml(documents.orderBy(col("doc_id")))
    val counts = htmlPatterns.map { case (name, pat) =>
      regexp_count(col("html"), lit(pat)).cast("long").as(s"n_${name}s")
    } :+ regexp_count(col("html"), lit("&[A-Za-z]+;|&#[0-9]+;")).cast("long").as("n_entities")
    val untagged = htmlPatterns.foldLeft(col("html")) { case (c, (_, pat)) =>
      regexp_replace(c, pat, " ")
    }
    val lines = split(untagged, "\n")
    val kept = filter(lines, l =>
      length(trim(l)) >= 30 && instr(l, "|") === 0 &&
        !trim(l).startsWith("Copyright"))
    val joined = array_join(kept, "\n")
    val decoded = htmlEntities.foldLeft(joined) { case (c, (e, r)) =>
      regexp_replace(c, lit(java.util.regex.Pattern.quote(e)), lit(r))
    }
    withHtml
      .select(col("doc_id") +: counts :+ size(lines).cast("long").as("n_lines")
        :+ size(kept).cast("long").as("n_kept") :+ decoded.as("extract"): _*)
      .select(col("doc_id"), col("n_scripts"), col("n_styles"), col("n_comments"),
        col("n_tags"), col("n_entities"), col("n_lines"), col("n_kept"),
        length(col("extract")).cast("long").as("extract_len"),
        md5(col("extract")).as("extract_md5"))
  }

  def fingerprint(documents: DataFrame): DataFrame =
    documents.orderBy(col("doc_id"))
      .select(col("doc_id"), col("text"), tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        coalesce(array_min(transform(shinglesOf(col("toks"), 5), s => md5(s))), md5(col("text")))
          .as("fingerprint"))
}
