package graft.operators

import graft.functions.Exact.ratio6
import graft.functions.Hashing._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.plans.HonestCheckpoint._

/** Dataset-curation operators for training-data pipelines (SURVEY §2
  * #36-38): deterministic splits, stratified sampling, and corpus
  * statistics.
  *
  * All randomness is content-hash derived (md5 of the stable id) —
  * reproducible across runs, engines, partitionings, and cluster
  * sizes, which is the property a 100 TB curation pipeline actually
  * needs (a re-run must assign the same doc to the same split).
  * Everything is one scan + one narrow aggregation or window; no
  * operator materializes more than per-group constants.
  */
object Curation {

  /** Deterministic 80/10/10 train/val/test assignment by id-hash
    * bucket. Pure per-row math on the scan — no shuffle at all.
    */
  def splitAssign(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), col("lang"), hex60Bucket(col("doc_id"), 100).as("bucket"))
      .withColumn("split",
        when(col("bucket") < 80, "train").when(col("bucket") < 90, "val").otherwise("test"))
      .orderBy(col("doc_id"))

  /** id → md5 → 60-bit int → bucket in [0, n). */
  private def hex60Bucket(id: org.apache.spark.sql.Column, n: Int) =
    hex60(id.cast("string")) % n

  /** The deterministic within-stratum order both samplers rank by:
    * md5 of the id (pseudo-random, unbiased by ingest order), id
    * tiebreak. Shared by [[sampleStratified]] and [[balanceStrata]] —
    * and pinned by their oracles — so the rule lives in one place.
    */
  private def mdRanked(documents: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("lang"))
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    documents
      .select(col("doc_id"), col("lang"))
      .withColumn("rn", row_number().over(w).cast("long"))
  }

  /** Deterministic stratified sample: the k pseudo-random docs per
    * stratum, chosen by md5-order within the stratum. One shuffle on
    * the stratum key; the window only tracks a row counter.
    */
  def sampleStratified(documents: DataFrame, k: Int = 20): DataFrame =
    mdRanked(documents)
      .filter(col("rn") <= k)
      .orderBy(col("lang"), col("rn"))

  /** Sequence packing for LLM pretraining: concatenate the corpus in
    * doc_id order and chunk it into fixed `budget`-token sequences
    * (the standard concat-then-chunk packing — documents may span a
    * boundary; `n_seqs` says how many sequences each doc touches).
    *
    * The global running token offset is a DISTRIBUTED two-pass prefix
    * sum, not a single-partition window: docs bucket into contiguous
    * doc_id ranges (`chunk` ids per range), pass 1 aggregates one
    * token subtotal per range (tiny), a window over that subtotal
    * frame yields each range's starting offset, and pass 2 broadcasts
    * those offsets back and computes within-range cumulative sums in
    * parallel. Scales as one scan + one tiny broadcast regardless of
    * corpus size; the oracle replays it as one global window (equal
    * by associativity of the prefix sum).
    */
  def packSequences(documents: DataFrame, budget: Int = 256, chunk: Int = 64): DataFrame = {
    val base = documents
      .select(col("doc_id"), size(tokens(col("text"))).cast("long").as("n_toks"))
      .withColumn("part", expr(s"doc_id DIV $chunk"))
    val wPart = Window.partitionBy(lit(0)).orderBy(col("part"))
      .rowsBetween(Window.unboundedPreceding, -1)
    // one row per doc_id range — small enough that the single-task
    // window over it is free (partitionBy(lit(0)) silences the
    // no-partition WARN; boundedness is structural: ranges, not docs)
    val offsets = base.groupBy(col("part")).agg(sum(col("n_toks")).as("psum"))
      .withColumn("part_off", coalesce(sum(col("psum")).over(wPart), lit(0L)))
      .select(col("part"), col("part_off"))
    val wIn = Window.partitionBy(col("part")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    base.join(broadcast(offsets), "part")
      .withColumn("off", col("part_off") + coalesce(sum(col("n_toks")).over(wIn), lit(0L)))
      .withColumn("seq_id", expr(s"off DIV $budget"))
      .withColumn("seq_pos", col("off") % budget)
      .withColumn("n_seqs",
        when(col("n_toks") > 0,
          expr(s"(off + n_toks - 1) DIV $budget") - col("seq_id") + 1).otherwise(0L))
      .select(col("doc_id"), col("n_toks"), col("off"), col("seq_id"), col("seq_pos"), col("n_seqs"))
      .orderBy(col("doc_id"))
  }

  /** Token-budget selection: take documents in md5(doc_id) order —
    * pseudo-random, reproducible — until a global token budget is
    * reached (the "sample N tokens from this corpus" step of
    * pretraining-mix construction). The doc whose span crosses the
    * budget is kept and flagged `complete = false` (callers truncate
    * it at `budget − off` tokens).
    *
    * The global running offset is the SAME distributed two-pass
    * prefix sum as [[packSequences]], but ordered by the md5 rank:
    * the top byte of the md5 is the range key (prefix-monotone in
    * the md5 string order, so per-range order ∘ range order = global
    * order), pass 1 reduces each of the 256 ranges to one subtotal,
    * pass 2 broadcasts range offsets back. One scan + a tiny
    * broadcast regardless of corpus size; no global sort or window.
    */
  def tokenBudget(documents: DataFrame, budget: Long = 10000L): DataFrame = {
    val base = documents
      .select(col("doc_id"), size(tokens(col("text"))).cast("long").as("n_toks"))
      .withColumn("md", md5(col("doc_id").cast("string")))
      .withColumn("part", conv(substring(col("md"), 1, 2), 16, 10).cast("long"))
    val wPart = Window.partitionBy(lit(0)).orderBy(col("part"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = base.groupBy(col("part")).agg(sum(col("n_toks")).as("psum"))
      .withColumn("part_off", coalesce(sum(col("psum")).over(wPart), lit(0L)))
      .select(col("part"), col("part_off"))
    val wIn = Window.partitionBy(col("part")).orderBy(col("md"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    base.join(broadcast(offsets), "part")
      .withColumn("off", col("part_off") + coalesce(sum(col("n_toks")).over(wIn), lit(0L)))
      .filter(col("off") < budget)
      .select(col("doc_id"), col("n_toks"), col("off"),
        (col("off") + col("n_toks") <= budget).as("complete"))
      .orderBy(col("off"), col("doc_id"))
  }

  /** QUALITY-RANKED token-budget selection — the FineWeb-style "keep
    * the best documents until the budget" stage: instead of
    * [[tokenBudget]]'s pseudo-random md5 order, documents are taken
    * in DESCENDING trained-quality-score order ([[QualityModel]] fit
    * on the corpus, coefficients as plan literals), so a fixed token
    * budget is filled with the highest-quality slice of the corpus.
    * The crossing doc is kept flagged `complete = false`, as in
    * [[tokenBudget]].
    *
    * The global running offset in score order is the SAME distributed
    * two-pass prefix sum: the range key is the bucketed score
    * `part = −⌊score·4096⌋` (monotone non-decreasing along descending
    * score, so per-part (score DESC, doc_id) order ∘ part order = the
    * global order), pass 1 reduces each bucket to one token subtotal,
    * pass 2 broadcasts bucket offsets back. One scoring scan + a tiny
    * broadcast; no global sort. Scores are 6-dp doubles ×4096 (a
    * power of two — the product is exact binary scaling), so the
    * bucketing replays identically in the oracle.
    *
    * Skew note: unlike [[tokenBudget]]'s 256 even md5 ranges, score
    * buckets follow the score DISTRIBUTION — ~2.4e-4-wide buckets
    * keep continuous scores spread, but a mass of EXACTLY equal
    * scores (identical feature vectors, e.g. a deduplicated-away
    * boilerplate block) lands in one bucket and its within-part
    * window serializes; run dedup before budget selection (the
    * standard pipeline order) and that mass is gone.
    */
  def qualityBudget(documents: DataFrame, budget: Long = 10000L,
                    alpha: Double = 1.0): DataFrame = {
    import graft.operators.{QualityModel, TextOps}
    val base0 = TextOps.withToks(documents).honestCheckpoint()
    // One materialized feature pipeline feeds both the fit's Gram
    // pass and the scoring join (the QualityModel.score pattern).
    val zf = QualityModel.zFrame(base0).honestCheckpoint()
    val beta = QualityModel.fitFromZ(zf, alpha)
    val scored = zf.select(col("doc_id"), QualityModel.scoreCol(beta).as("score"))
    val base = base0
      .select(col("doc_id"), size(col("toks")).cast("long").as("n_toks"))
      .join(scored, "doc_id")
      .withColumn("part", -floor(col("score") * 4096).cast("long"))
    val wPart = Window.partitionBy(lit(0)).orderBy(col("part"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = base.groupBy(col("part")).agg(sum(col("n_toks")).as("psum"))
      .withColumn("part_off", coalesce(sum(col("psum")).over(wPart), lit(0L)))
      .select(col("part"), col("part_off"))
    val wIn = Window.partitionBy(col("part"))
      .orderBy(col("score").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    base.join(broadcast(offsets), "part")
      .withColumn("off", col("part_off") + coalesce(sum(col("n_toks")).over(wIn), lit(0L)))
      .filter(col("off") < budget)
      .select(col("doc_id"), col("score"), col("n_toks"), col("off"),
        (col("off") + col("n_toks") <= budget).as("complete"))
      .orderBy(col("off"), col("doc_id"))
  }

  /** CCNet-style perplexity bucketing — the head/middle/tail
    * stratification every LM-filtered pretraining corpus runs
    * (Wenzek et al. 2020: score each doc with a language model, cut
    * each language at its perplexity terciles, keep/weight buckets
    * downstream): the engine's bit-exact unigram surprisal
    * ([[TextOps.surprisal]]) stands in for the LM, and each
    * language's tercile thresholds are EXACT order statistics of
    * mean_bits — found with the same bucketed two-pass rank-location
    * machinery as [[FinAnalytics.valueQuantiles]] (histogram pass →
    * cumulative bucket counts → rank located inside one bucket), so
    * no per-language global sort ever runs. Thresholds are
    * model-parameter sized (2 values per language, broadcast back);
    * assignment is one scan: head = mean_bits ≤ b1 (most
    * predictable), tail = mean_bits > b2, middle between — threshold
    * semantics exactly as CCNet (cut by value, so ties land on the
    * lower bucket together).
    *
    * Docs with no tokens carry no surprisal and are absent, like
    * [[TextOps.surprisal]] itself. Tercile ranks are
    * max((n+1) DIV 3, 1) and max((2n+2) DIV 3, 1) over the
    * (mean_bits, doc_id) order — deterministic for every n ≥ 1.
    */
  def pplBuckets(documents: DataFrame, histBuckets: Int = 8192): DataFrame = {
    import graft.operators.TextOps
    // (doc_id, lang, mean_bits) materialized ONCE: the histogram
    // pass, the rank-location pass, and the final assignment all
    // re-read this narrow frame instead of re-running the surprisal
    // aggregation chain per reference (measured ~3× at sf0.1).
    val base = documents.select(col("doc_id"), col("lang"))
      .join(TextOps.surprisal(documents).select(col("doc_id"), col("mean_bits")), "doc_id")
      .honestCheckpoint()
    pplAssign(base, pplThresholds(base, histBuckets))
      .orderBy(col("doc_id"))
  }

  /** Per-language tercile thresholds (lang, b1, b2) of a scored
    * (doc_id, lang, mean_bits) frame — [[pplBuckets]]' model half,
    * factored out so the frozen-model serve path ([[pplModel]] /
    * [[graft.streaming.CurationStream.pplGateServe]]) fits the SAME
    * exact order statistics the batch operator cuts at.
    */
  private def pplThresholds(base: DataFrame, histBuckets: Int): DataFrame = {
    val stats = base.groupBy(col("lang")).agg(count(lit(1)).as("n"),
      min(col("mean_bits")).as("vmin"), max(col("mean_bits")).as("vmax"))
    def bucketCol = when(col("vmax") > col("vmin"),
      least(floor((col("mean_bits") - col("vmin")) / ((col("vmax") - col("vmin")) / histBuckets)),
        lit((histBuckets - 1).toLong))).otherwise(lit(0L))
    val hist = base.join(broadcast(stats), "lang")
      .withColumn("bucket", bucketCol)
      .groupBy(col("lang"), col("bucket")).agg(count(lit(1)).as("cnt"))
    val wCum = Window.partitionBy(col("lang")).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = hist.withColumn("cum_before", coalesce(sum(col("cnt")).over(wCum), lit(0L)))
    val targets = stats.select(col("lang"), explode(array(
        struct(lit("b1").as("which"), expr("greatest((n + 1) DIV 3, 1)").as("target")),
        struct(lit("b2").as("which"), expr("greatest((2 * n + 2) DIV 3, 1)").as("target")))).as("t"))
      .select(col("lang"), col("t.which").as("which"), col("t.target").as("target"))
    val located = targets.join(cum, Seq("lang"))
      .filter(col("target") > col("cum_before") && col("target") <= col("cum_before") + col("cnt"))
      .select(col("lang"), col("which"), col("target"), col("bucket"), col("cum_before"))
    val wIn = Window.partitionBy(col("lang"), col("bucket"), col("which"))
      .orderBy(col("mean_bits"), col("doc_id"))
    base.join(broadcast(stats), "lang")
      .withColumn("bucket", bucketCol)
      .join(broadcast(located), Seq("lang", "bucket"))
      .withColumn("rn", row_number().over(wIn).cast("long"))
      .filter(col("rn") === col("target") - col("cum_before"))
      .groupBy(col("lang"))
      .agg(max(when(col("which") === "b1", col("mean_bits"))).as("b1"),
        max(when(col("which") === "b2", col("mean_bits"))).as("b2"))
  }

  /** Cut-by-value bucket assignment of a scored frame against a
    * (lang, b1, b2) threshold frame — CCNet tie semantics (ties land
    * on the lower bucket together). Shared by the batch operator and
    * the frozen-model serve.
    *
    * LEFT join: a doc whose language has no threshold row (a new
    * language arriving at a frozen-model serve — impossible on the
    * batch path, where thresholds are fit from the same frame) is
    * EMITTED with bucket `unmodeled` rather than silently dropped by
    * an inner join. The previous inner join was a silent data-loss
    * mode: a whole new-language micro-batch vanished from
    * [[graft.streaming.CurationStream.pplGateServe]] with no signal.
    * Downstream, [[pplRateFilter]]'s unlisted-bucket default (rate
    * 10000) KEEPS unmodeled docs visibly; an ingest that wants to
    * drop or alarm on them lists `unmodeled` in its rates map or
    * filters/counts the bucket column.
    */
  private def pplAssign(scored: DataFrame, thr: DataFrame): DataFrame =
    scored.join(broadcast(thr), Seq("lang"), "left")
      .withColumn("bucket",
        when(col("b1").isNull && col("b2").isNull, "unmodeled")
          .when(col("mean_bits") <= col("b1"), "head")
          .when(col("mean_bits") <= col("b2"), "middle").otherwise("tail"))
      .select(col("doc_id"), col("lang"), col("mean_bits"), col("bucket"))

  /** CCNet bucket ACTION — the consumption half of [[pplBuckets]]:
    * Wenzek et al. 2020 train on the head (+middle) cut and discard
    * the tail, and the generalized form keeps each bucket at a
    * per-bucket RATE. Rates are per-myriad keep probabilities
    * realized by the deterministic hex60 document hash
    * ([[mixSources]]' machinery — a re-run keeps exactly the same
    * docs, membership is a pure function of doc_id, and the realized
    * per-bucket fraction concentrates on rate/10000 at corpus size);
    * an unlisted bucket keeps everything (rate 10000). The default
    * (head 10000, middle 5000, tail 0) is the CCNet-ish "all of
    * head, half of middle, drop tail" and exercises all three paths:
    * full keep, rate-sample, drop.
    *
    * Scale shape: [[pplBuckets]]' one scoring scan + broadcast
    * thresholds, then a 3-row broadcast rate join and a per-row hash
    * filter — nothing new shuffles.
    */
  def pplFilter(documents: DataFrame,
                rates: Map[String, Int] = Map("head" -> 10000, "middle" -> 5000, "tail" -> 0),
                histBuckets: Int = 8192): DataFrame =
    pplRateFilter(pplBuckets(documents, histBuckets), rates)
      .orderBy(col("doc_id"))

  /** The per-myriad bucket-rate keep of a bucketed frame — the
    * action tail shared by [[pplFilter]] and the frozen-model serve
    * ([[pplGate]]).
    */
  private def pplRateFilter(bucketed: DataFrame, rates: Map[String, Int]): DataFrame = {
    val spark = bucketed.sparkSession
    import spark.implicits._
    val rdf = rates.toSeq.toDF("bucket", "rate")
    bucketed
      .join(broadcast(rdf), Seq("bucket"), "left")
      .withColumn("rate", coalesce(col("rate"), lit(10000)).cast("long"))
      .withColumn("hash", hex60(concat(col("doc_id").cast("string"), lit(":ppl"))) % 10000)
      .filter(col("hash") < col("rate"))
      .select(col("doc_id"), col("lang"), col("mean_bits"), col("bucket"),
        col("rate"), col("hash"))
  }

  /** The frozen CCNet model: the unigram LM ([[TextOps.surprisalModel]])
    * plus the per-language tercile thresholds — everything [[pplGate]]
    * needs to stratify a NEW batch without touching the reference
    * corpus again. Fit rarely, serve every batch — the same
    * deployment split as [[QualityModel]]/[[graft.streaming.CurationStream]];
    * Wenzek et al. 2020 ship exactly these two artifacts (the LM and
    * the per-language cutoffs).
    */
  final case class PplModel private[Curation] (
      freq: DataFrame, total: Long, thresholds: DataFrame)

  /** Fit the frozen CCNet model on a reference corpus. */
  def pplModel(documents: DataFrame, histBuckets: Int = 8192): PplModel = {
    import graft.operators.TextOps
    val (freq, total) = TextOps.surprisalModel(documents)
    val base = documents.select(col("doc_id"), col("lang"))
      .join(TextOps.surprisalServe(freq, total, documents)
        .select(col("doc_id"), col("mean_bits")), "doc_id")
      .honestCheckpoint()
    PplModel(freq, total, pplThresholds(base, histBuckets).honestCheckpoint())
  }

  /** Gate a batch against a FROZEN [[PplModel]]: score each doc's
    * mean_bits under the frozen LM (unknown tokens read maximum
    * surprisal — heavy-OOV docs route toward the tail, CCNet's OOV
    * behavior), cut at the frozen thresholds, keep at the per-bucket
    * rates. Per-document algebra + model-sized broadcasts only, so a
    * doc's verdict never depends on which batch carried it
    * (spec-pinned: streamed ≡ the one-shot [[pplFilter]] when the
    * model was fit on the full corpus). Docs in languages outside
    * the model's threshold table surface with bucket `unmodeled`
    * and are KEPT by the default rates (see [[pplAssign]]) — never
    * silently dropped; list `unmodeled -> 0` in `rates` to drop
    * them explicitly, or alarm on the bucket column downstream.
    */
  def pplGate(model: PplModel, batch: DataFrame,
              rates: Map[String, Int] = Map("head" -> 10000, "middle" -> 5000, "tail" -> 0)): DataFrame = {
    import graft.operators.TextOps
    val scored = batch.select(col("doc_id"), col("lang"))
      .join(TextOps.surprisalServe(model.freq, model.total, batch)
        .select(col("doc_id"), col("mean_bits")), "doc_id")
    pplRateFilter(pplAssign(scored, model.thresholds), rates)
      .orderBy(col("doc_id"))
  }

  /** Expanding-window time-series CV folds — sklearn's
    * `TimeSeriesSplit(n_splits, gap, max_train_size, test_size)`
    * semantics (the reference evaluates every encoding with
    * TimeSeriesSplit(5, gap=48, max_train_size=10000, test_size=1000),
    * plot_cyclical_feature_engineering.py:133-138): over the corpus
    * in (ts, event_id) order, fold f's TEST block is rows
    * [n − (nSplits−f)·testSize, +testSize), its TRAIN block ends
    * `gap` rows before the test block and extends back at most
    * maxTrainSize rows (clamped at 0). Rows may serve several folds;
    * output is one (fold, role) membership row each.
    *
    * The global time-order index is the same distributed two-pass
    * prefix sum as [[packSequences]] — day is the range key (time-
    * monotone, so per-day order ∘ day order = global order), pass 1
    * reduces each day to a count, pass 2 broadcasts day offsets back
    * and adds a within-day row_number. One scan + a tiny broadcast;
    * no global sort. The ×nSplits fold fan-out is a broadcast
    * crossJoin filtered on the scan side before anything shuffles.
    */
  def timeSplit(events: DataFrame, nSplits: Int = 5, gap: Long = 48,
                maxTrainSize: Long = 10000, testSize: Long = 1000): DataFrame = {
    val base = events.select(col("event_id"), col("ts"))
      .withColumn("part", to_date(col("ts")))
    val wPart = Window.partitionBy(lit(0)).orderBy(col("part"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val counts = base.groupBy(col("part")).agg(count(lit(1)).as("cnt"))
    val offsets = counts
      .withColumn("part_off", coalesce(sum(col("cnt")).over(wPart), lit(0L)))
      .select(col("part"), col("part_off"))
    // Mirror sklearn's TimeSeriesSplit ValueError: with
    // n < nSplits·testSize + gap + 1 rows, fold 0's test block would
    // start at a negative index (truncating it) and its train slice
    // would be empty — fail loudly with the corpus size instead of
    // emitting malformed folds. Plan-level (raise_error on the one
    // aggregated n row), so the guard costs no extra job.
    val minRows = nSplits * testSize + gap + 1
    val nDf = counts.agg(sum(col("cnt")).as("n"))
      .select(when(col("n") >= minRows, col("n"))
        .otherwise(raise_error(concat(
          lit(s"timeSplit: need >= $minRows rows for $nSplits folds of $testSize test rows"
            + s" with gap $gap, got "), col("n"))).cast("long")).as("n"))
    val folds = events.sparkSession.range(nSplits).toDF("fold")
    val wIn = Window.partitionBy(col("part")).orderBy(col("ts"), col("event_id"))
    base.join(broadcast(offsets), "part")
      .withColumn("idx", col("part_off") + row_number().over(wIn).cast("long") - 1)
      .crossJoin(broadcast(nDf))
      .crossJoin(broadcast(folds))
      .withColumn("test_start", col("n") - (lit(nSplits.toLong) - col("fold")) * testSize)
      .withColumn("role",
        when(col("idx") >= col("test_start") && col("idx") < col("test_start") + testSize, "test")
          .when(col("idx") < col("test_start") - gap &&
            col("idx") >= greatest(lit(0L), col("test_start") - gap - maxTrainSize), "train"))
      .filter(col("role").isNotNull)
      .select(col("fold"), col("role"), col("event_id"), col("idx"))
      .orderBy(col("fold"), col("role"), col("idx"))
  }

  /** The demo mixture the registered `curate_mix` query uses:
    * src0-4 kept whole, src5-9 at half rate, everything else falls
    * to the default quarter rate. Rates are integer per-10000
    * thresholds — exact comparisons, no float weights to disagree on.
    */
  val defaultMixWeights: Map[String, Int] =
    ((0 to 4).map(i => s"src$i" -> 10000) ++ (5 to 9).map(i => s"src$i" -> 5000)).toMap

  /** Weighted source mixture for training-data composition: each
    * document is kept iff its salted content-hash bucket (0-9999)
    * falls under its source's rate — the per-source downsampling
    * step that turns N crawls into one weighted corpus.
    *
    * The weights table joins as a BROADCAST left join (sources are a
    * dimension; unknown sources take `defaultPerMyriad`), so the scan
    * stays one pass with per-row math — no shuffle at all, same as
    * [[splitAssign]]. The hash is salted (`:mix`) so mixture
    * membership is independent of the train/val/test assignment —
    * without the salt, "kept at rate ≤ r" would be a deterministic
    * subset of "split < r·100", silently correlating the two
    * decisions.
    */
  def mixSources(documents: DataFrame,
                 weights: Map[String, Int] = defaultMixWeights,
                 defaultPerMyriad: Int = 2500): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val wdf = weights.toSeq.toDF("source", "rate")
    documents.select(col("doc_id"), col("source"))
      .join(broadcast(wdf), Seq("source"), "left")
      .withColumn("rate", coalesce(col("rate"), lit(defaultPerMyriad)).cast("long"))
      .withColumn("bucket", hex60(concat(col("doc_id").cast("string"), lit(":mix"))) % 10000)
      .filter(col("bucket") < col("rate"))
      .select(col("doc_id"), col("source"), col("rate"), col("bucket"))
      .orderBy(col("doc_id"))
  }

  /** Class rebalancing: downsample every stratum to the size of the
    * SMALLEST one (equal-sized language buckets for eval sets or
    * balanced fine-tuning mixes). Selection within a stratum is
    * md5-order — deterministic and unbiased by ingest order. The
    * stratum sizes reduce to one tiny aggregate whose min broadcasts
    * back; the facts shuffle once on the stratum key for the
    * row-counter window.
    */
  def balanceStrata(documents: DataFrame): DataFrame = {
    val minN = documents.groupBy(col("lang")).agg(count(lit(1)).as("n"))
      .agg(min(col("n")).as("min_n"))
    mdRanked(documents)
      .crossJoin(broadcast(minN))
      .filter(col("rn") <= col("min_n"))
      .select(col("doc_id"), col("lang"), col("rn"))
      .orderBy(col("lang"), col("rn"))
  }

  /** Class rebalancing by UPSAMPLING — the replication-plan
    * counterpart of [[balanceStrata]]'s downsampling: every stratum
    * is brought up to the size of the LARGEST one by assigning each
    * doc a deterministic copy count (⌊target/n⌋ everywhere, +1 for
    * the first target mod n docs in md5 order), so per-stratum
    * Σcopies = target exactly and a re-run reproduces the same plan.
    * Emitting the PLAN (doc_id → copies), not the exploded rows,
    * keeps the shuffle at corpus width — the consumer explodes at
    * write time, where the fan-out is free — and the only non-scan
    * work is the stratum-count aggregate and its broadcast back.
    */
  def oversample(documents: DataFrame): DataFrame = {
    val counts = documents.groupBy(col("lang")).agg(count(lit(1)).as("n"))
    val target = counts.agg(max(col("n")).as("target"))
    val ranked = mdRanked(documents)
    // NULL-SAFE stratum join (<=>): a NULL lang is a stratum like any
    // other — an equi-join would silently drop those docs from the
    // replication plan (and the groupBy above does emit a null
    // group, so the counts row exists). Same convention as
    // balanceStrata, which keeps the null stratum via its window.
    ranked
      .join(broadcast(counts), ranked("lang") <=> counts("lang"))
      .drop(counts("lang"))
      .crossJoin(broadcast(target))
      .withColumn("copies",
        expr("target DIV n") + when(col("rn") <= col("target") % col("n"), 1L).otherwise(0L))
      .select(col("doc_id"), col("lang"), col("copies"))
      .orderBy(col("doc_id"))
  }

  /** The quality gate APPLIED — the filter pass that turns the three
    * text-analysis verdicts into one keep/drop decision per document:
    * length/punctuation quality ([[graft.operators.TextOps.quality]]),
    * repetition bounds ([[graft.operators.TextOps.repetition]]), and
    * language agreement ([[graft.operators.TextOps.langId]]). Same
    * closing-the-loop role as `dedup_apply` plays for dedup. All
    * three inputs are per-doc scans sharing doc_id clustering;
    * threshold comparisons run on the 6-dp-rounded fractions both
    * engines already agree on.
    */
  def filterGate(documents: DataFrame, maxTopFrac: Double = 0.15,
                 maxDupFrac: Double = 0.9): DataFrame = {
    import graft.operators.TextOps
    val q = TextOps.quality(documents).select(col("doc_id"), col("keep").as("quality_ok"))
    val r = TextOps.repetition(documents).select(col("doc_id"),
      (col("top_frac") <= maxTopFrac && col("dup_token_frac") <= maxDupFrac).as("repetition_ok"))
    val l = TextOps.langId(documents).select(col("doc_id"),
      (col("pred_lang") === col("lang")).as("lang_ok"))
    // repetition emits no row for docs with < 2 tokens (no 2-grams),
    // so it joins LEFT with missing metrics read as repetition_ok =
    // false — every input doc gets exactly one verdict row, sub-2-
    // token docs a keep=false one, instead of silently vanishing.
    documents.select(col("doc_id"), col("lang"))
      .join(q, "doc_id").join(r, Seq("doc_id"), "left").join(l, "doc_id")
      .withColumn("repetition_ok", coalesce(col("repetition_ok"), lit(false)))
      .select(col("doc_id"), col("lang"), col("quality_ok"), col("repetition_ok"), col("lang_ok"),
        (col("quality_ok") && col("repetition_ok") && col("lang_ok")).as("keep"))
      .orderBy(col("doc_id"))
  }

  /** [[filterGate]] with the TRAINED quality model composed in as an
    * additional gate: the heuristic verdict columns plus the model's
    * continuous `model_score` (coefficients enter as plan literals —
    * one extra per-doc scoring expression, no new shuffle) and
    * `model_ok` at `minScore`; `keep` requires BOTH the heuristic
    * gate and the model. This is how a trained classifier
    * ([[QualityModel]]) deploys in a curation run: fit once, then
    * gate the corpus with the frozen coefficients.
    */
  def filterGateModel(documents: DataFrame, beta: Array[Double], minScore: Double = 0.5,
                      maxTopFrac: Double = 0.15, maxDupFrac: Double = 0.9): DataFrame = {
    import graft.operators.{QualityModel, TextOps}
    val base = TextOps.withToks(documents).honestCheckpoint()
    val fg = filterGate(base, maxTopFrac, maxDupFrac)
      .withColumnRenamed("keep", "heuristic_ok")
    val sc = QualityModel.zFrame(base)
      .select(col("doc_id"), QualityModel.scoreCol(beta).as("model_score"))
    fg.join(sc, "doc_id")
      .withColumn("model_ok", col("model_score") >= minScore)
      .withColumn("keep", col("heuristic_ok") && col("model_ok"))
      .orderBy(col("doc_id"))
  }

  /** The end-to-end curation verdict — the composition a real
    * training-data run executes as ONE plan: content filtering
    * ([[filterGate]]: quality + repetition + language agreement),
    * near-dup survival ([[Dedup.applyDedupWith]] over precomputed
    * cluster labels), and the train/val/test assignment
    * ([[splitAssign]]), joined on doc_id into a single per-document
    * decision row (`keep` = passes the filter AND survives dedup).
    * Each stage keeps its own scale shape (one corpus scan + keyed
    * joins; labels are cluster-sized); Catalyst sees the whole
    * composition, so shared scans/columns prune once.
    */
  def pipeline(documents: DataFrame, comps: DataFrame): DataFrame = {
    import graft.operators.{Dedup, TextOps}
    // ONE corpus scan + ONE tokenization for the whole composition:
    // the three filter sub-operators each tokenize their input, so
    // feeding them the raw frame would regex-split the corpus three
    // times (the CPU-dominant step at scale). The pre-tokenized
    // projection is materialized once (eager localCheckpoint,
    // ContextCleaner-freed) and every stage reads it back.
    val base = TextOps.withToks(documents).honestCheckpoint()
    val fg = filterGate(base)
      .select(col("doc_id"), col("lang"), col("quality_ok"),
        col("repetition_ok"), col("lang_ok"), col("keep").as("filter_ok"))
    val dd = Dedup.applyDedupWith(base, comps)
      .select(col("doc_id"), col("keeper_id"), col("kept").as("dedup_kept"))
    val sp = splitAssign(base).select(col("doc_id"), col("split"))
    fg.join(dd, "doc_id").join(sp, "doc_id")
      .select(col("doc_id"), col("lang"), col("split"),
        col("quality_ok"), col("repetition_ok"), col("lang_ok"),
        col("filter_ok"), col("keeper_id"), col("dedup_kept"),
        (col("filter_ok") && col("dedup_kept")).as("keep"))
      .orderBy(col("doc_id"))
  }

  /** Per-language corpus statistics: doc/char/token totals and the
    * keep-rate under the [[TextOps.quality]] length gate. Map-side
    * partial aggregation; the shuffle carries one row per language.
    */
  def corpusStats(documents: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    documents
      .select(col("lang"), col("doc_id"), length(col("text")).cast("long").as("n_chars"),
        size(toks).cast("long").as("n_toks"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        sum(col("n_toks")).as("total_tokens"),
        sum(when(col("n_toks") >= 5, 1L).otherwise(0L)).as("n_keep"))
      .withColumn("avg_chars", ratio6("total_chars", "n_docs"))
      .orderBy(col("lang"))
  }

  /** Export-shard planner: assign every doc a deterministic shard by
    * id-hash (salted `:shard` — independent of the split/mix hashes,
    * same rationale as [[mixSources]]) and reduce to the per-shard
    * MANIFEST a training-data export actually ships: doc/token/char
    * totals, the doc_id range, and an order-invariant content
    * signature (bit_xor of the 60-bit hash of `doc_id:text` — any
    * engine can recompute it to audit a delivered shard; covering
    * the TEXT means corruption, truncation, or payload swaps between
    * ids all break the signature, not just dropped rows; xor, unlike
    * sum, cannot overflow and is insensitive to row order and
    * partitioning). Assignment is per-row math on the scan; the
    * shuffle carries one row per shard. Writers consume the
    * assignment to partition output files; the manifest is the
    * integrity sidecar.
    */
  def shardManifest(documents: DataFrame, shards: Int = 16): DataFrame =
    documents
      .select(col("doc_id"), col("lang"),
        size(tokens(col("text"))).cast("long").as("n_toks"),
        length(col("text")).cast("long").as("n_chars"),
        (hex60(concat(col("doc_id").cast("string"), lit(":shard"))) % shards).as("shard"),
        hex60(concat(col("doc_id").cast("string"), lit(":"), col("text"))).as("sig"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("total_tokens"),
        sum(col("n_chars")).as("total_chars"),
        min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"),
        bit_xor(col("sig")).as("content_sig"))
      .orderBy(col("shard"))
}
