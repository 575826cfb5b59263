package graft.operators

import graft.functions.Exact._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.plans.HonestCheckpoint._

/** TRAINED document-quality classifier — the learned counterpart to
  * the heuristic gates ([[TextOps.quality]]/[[TextOps.repetition]]/
  * [[TextOps.langId]] → [[Curation.filterGate]]). Production
  * pretraining corpora add a trained quality model on top of the
  * hand-set thresholds (CCNet's fastText LM filter, GPT-3's WebText
  * logistic classifier, FineWeb-Edu's regression scorer — public
  * technique); this is that stage as a Spark-native operator: a
  * closed-form ridge probe over the engine's own per-document
  * features, distilled from the deterministic heuristic verdict and
  * emitting a CONTINUOUS score a curator can threshold anywhere —
  * the capability the boolean gate lacks (rank docs, keep the top
  * X% of a token budget, loosen/tighten without recomputing).
  *
  * Reference anchor: the same RidgeCV shape as the regressor demo
  * (finanalyzer/regressors/to_review/plot_cyclical_feature_engineering.py:395-411)
  * fit on curation features instead of cyclical time encodings.
  *
  * Model: ridge with the SAME machinery as [[Ridge]] — the augmented
  * vector z = [1, f₁..f₆, y] is 6-dp-quantized DECIMAL(18,6), one
  * partial-aggregated scan accumulates the exact 36-sum Gram upper
  * triangle, and the 7×7 pivot-free SPD solve runs driver-side on
  * model parameters only; coefficients re-enter the plan as literals
  * for the scoring scan. Features (all already oracle-replayable
  * 6-dp quantities):
  *
  *   f₁ avg_word_len   f₂ punct_ratio      f₃ stop_ratio
  *   f₄ top_frac       f₅ dup_token_frac   f₆ lang_match (0/1)
  *
  * Docs with < 2 tokens have no repetition row (no 2-grams): their
  * f₄/f₅ default to 1.0 — the worst-case repetition reading, the
  * same "missing metrics read as reject" convention as
  * [[Curation.filterGate]]. Null ratios (empty docs) read 0.0.
  *
  * Label: the deterministic heuristic verdict itself (quality keep ∧
  * repetition thresholds ∧ language agreement — [[Curation.filterGate]]
  * with its default thresholds), so the planted signal is exactly
  * recoverable and the whole train-predict loop replays in the
  * DuckDB oracle bit-for-bit (Gram sums exact decimal, solve a fixed
  * IEEE op sequence — the fin_ridge argument).
  *
  * Scale shape: the corpus is tokenized ONCE (eager localCheckpoint,
  * ContextCleaner-freed); everything else is per-doc Column algebra
  * + doc_id-keyed joins. Nothing corpus-sized crosses the driver:
  * the fit ships 36 decimals, the model is 7 doubles.
  */
object QualityModel {

  /** Repetition-gate thresholds shared with [[Curation.filterGate]]
    * defaults — the label must be the same verdict the boolean gate
    * emits. */
  private val MaxTopFrac = 0.15
  private val MaxDupFrac = 0.9

  /** (doc_id, z0..z7): intercept + the six 6-dp features + the
    * label, each DECIMAL(18,6) so the Gram sums are exact. The label
    * defaults to the 0/1 heuristic verdict the model self-distills
    * from; `label` supplies a CALLER-GRADED column instead (the
    * FineWeb-Edu deployment: an external grader — an LLM judge, a
    * human rater file — scores a sample and the same exact-decimal
    * Gram/solve regresses the engine features onto it; any numeric
    * expression over the input columns works and is 6-dp-quantized
    * like every feature). Callers pass a pre-tokenized frame
    * ([[TextOps.withToks]]) to tokenize the corpus once across the
    * feature sub-operators.
    */
  private[operators] def zFrame(documents: DataFrame,
                                label: Option[Column] = None): DataFrame = {
    // quality + lang-id are PURE PER-ROW PROJECTIONS: fused into one
    // scan over the (tokenized) input instead of computed as separate
    // frames re-attached by doc_id joins — at corpus scale each of
    // those joins shuffled the whole corpus for values the scan
    // already had in hand (round 16; two full-corpus shuffles
    // removed). Only repetition AGGREGATES (2-gram explode →
    // per-doc counts), so only it still joins — left, because docs
    // with < 2 tokens have no repetition row.
    val ql = TextOps.withLangCols(TextOps.withQualityCols(documents))
      .select(col("doc_id") +:
        label.map(c => dec6(c).as("ext_label")).toSeq ++: Seq(
          col("avg_word_len"), col("punct_ratio"), col("stop_ratio"),
          col("keep").as("quality_ok"),
          (col("pred_lang") === col("lang")).as("lang_ok")): _*)
    val r = TextOps.repetition(documents).select(col("doc_id"),
      col("top_frac"), col("dup_token_frac"))
    val f = Seq(
      coalesce(col("avg_word_len"), lit(0.0)),
      coalesce(col("punct_ratio"), lit(0.0)),
      coalesce(col("stop_ratio"), lit(0.0)),
      coalesce(col("top_frac"), lit(1.0)),
      coalesce(col("dup_token_frac"), lit(1.0)),
      when(col("lang_ok"), 1.0).otherwise(0.0))
    val heur = col("quality_ok") &&
      coalesce(col("top_frac") <= MaxTopFrac && col("dup_token_frac") <= MaxDupFrac,
        lit(false)) && col("lang_ok")
    // an external label is computed against the INPUT frame (it may
    // read any document column — the fused scan still carries them
    // all) and rides as ext_label; the default heuristic label is
    // built from the fused verdicts
    val z7 = label.map(_ => col("ext_label"))
      .getOrElse(dec6(when(heur, 1.0).otherwise(0.0)))
    val zs = lit(1.0).cast(org.apache.spark.sql.types.DecimalType(18, 6)) +:
      f.map(dec6) :+ z7
    ql.join(r, Seq("doc_id"), "left")
      .select(col("doc_id") +: zs.zipWithIndex.map { case (c, i) => c.as(s"z$i") }: _*)
  }

  /** Fit [β₀(intercept), β₁..β₆] — one exact-decimal Gram scan, then
    * the driver-side 7×7 solve on model parameters only. Same
    * intercept-unpenalized convention as [[Ridge.fit]]. `label`
    * regresses onto a caller-graded column instead of the distilled
    * heuristic verdict (see [[zFrame]]).
    */
  def fit(documents: DataFrame, alpha: Double = 1.0,
          label: Option[Column] = None): Array[Double] =
    fitFromZ(zFrame(documents, label), alpha)

  /** The fit half over an already-built z frame — so a train-and-
    * score composition ([[score]], [[Curation.qualityBudget]]) can
    * materialize the feature pipeline ONCE and feed both the Gram
    * pass and the scoring scan from it.
    *
    * The Gram pass fits on the GRADED SUBSET: rows whose label (z7)
    * is null are filtered out BEFORE the sums. Without the filter, a
    * partially-graded corpus — exactly the advertised "grader scores
    * a sample" FineWeb-Edu deployment — poisons the normal equations
    * silently: a null z7 nulls every Gram product involving it
    * (which sum then DROPS) while the feature-only sums keep those
    * rows, so X'X and X'y are computed over DIFFERENT row sets and
    * the solve returns consistent-looking but wrong coefficients.
    * The default self-distilled label is never null, so this is a
    * no-op on the unlabeled path.
    */
  private[operators] def fitFromZ(zf: DataFrame, alpha: Double): Array[Double] = {
    val cols = Ridge.gramSumCols
    val row = zf.filter(col("z7").isNotNull).agg(cols.head, cols.tail: _*).head()
    def s(i: Int, j: Int): Double = {
      val v = row.getDecimal(Ridge.upperTriangle.indexOf((i, j)))
      if (v == null) 0.0 else v.doubleValue()
    }
    Ridge.solveFromSums(s, alpha)
  }

  /** The model score as a Column over a zFrame row: Σ zᵢ·βᵢ in the
    * fixed left-associated IEEE order ([[Ridge.predictWith]]'s), 6-dp
    * rounded. Shared by [[score]] and [[Curation.filterGateModel]].
    */
  private[operators] def scoreCol(beta: Array[Double]): Column =
    round((0 until Ridge.D - 1)
      .map(i => col(s"z$i").cast("double") * lit(beta(i)))
      .reduce(_ + _), 6) + lit(0.0)

  /** Model-file layout version — the quality model persists like the
    * frozen indexes (meta checked at load, mismatch fails loudly)
    * but versions independently: it is 8 doubles, not an index. */
  private[graft] val modelFormatVersion = 1

  /** Persist fitted coefficients — the "fit rarely" half of the
    * fit-rarely/serve-every-batch deployment ([[graft.streaming.CurationStream]]):
    * a restarted serve loop loads the frozen model instead of
    * refitting (and two serve fleets score IDENTICALLY — the
    * coefficients are the model, bit-exact through parquet doubles).
    * One row: version, a caller fingerprint, and β₀..β₆.
    *
    * STAGED write through the frozen indexes' one publish step
    * ([[FrozenIndex.publish]], Hadoop FileSystem calls — so the model
    * dir may live on ANY hadoop scheme the index dirs do: hdfs://,
    * s3a://, file://): the row lands in a pid-unique staging dir, then
    * replaces `model.parquet` by `fs.rename`, and a rename that landed
    * inside a `model.parquet` a racing saver recreated fails loudly.
    * A crash mid-write leaves the PREVIOUS model intact (staging is
    * invisible to [[load]]); a crash inside the delete-rename window
    * leaves no `model.parquet`, which load rejects LOUDLY via the
    * `_SUCCESS` marker check — never a torn or half-old model served
    * silently.
    */
  def save(spark: org.apache.spark.sql.SparkSession, beta: Array[Double],
           dir: String, params: String = ""): Unit = {
    require(beta.length == Ridge.D - 1, s"expected ${Ridge.D - 1} coefficients, got ${beta.length}")
    import spark.implicits._
    val published = FrozenIndex.publish(spark, s"$dir/model.parquet") { staging =>
      Seq((modelFormatVersion, params, beta.toSeq))
        .toDF("version", "params", "beta")
        .repartition(1).write.mode("overwrite").parquet(staging)
    }
    if (!published) sys.error(s"failed to publish quality model to $dir/model.parquet")
  }

  /** Load persisted coefficients; fails loudly on a missing/partial
    * model dir (the `_SUCCESS` commit marker must exist — see
    * [[save]]'s staged publish), on a layout-version mismatch, and
    * on a params mismatch when the caller passes one (same contract
    * as the frozen-index loads).
    */
  def load(spark: org.apache.spark.sql.SparkSession, dir: String,
           expectParams: Option[String] = None): Array[Double] = {
    val marker = new org.apache.hadoop.fs.Path(s"$dir/model.parquet/_SUCCESS")
    require(marker.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(marker),
      s"quality model at $dir is missing or incomplete (no _SUCCESS commit marker)")
    val row = spark.read.parquet(s"$dir/model.parquet").collect()(0)
    require(row.getAs[Int]("version") == modelFormatVersion,
      s"quality model at $dir has layout version ${row.getAs[Int]("version")}, expected $modelFormatVersion")
    expectParams.foreach(p => require(row.getAs[String]("params") == p,
      s"quality model at $dir was fit as '${row.getAs[String]("params")}', expected '$p'"))
    row.getAs[Seq[Double]]("beta").toArray
  }

  /** Train-and-score in one operator: fit on the corpus, then one
    * scoring scan with the coefficients as plan literals. Emits
    * (doc_id, label, score, pred) — `label` is the training target
    * (the 0/1 heuristic verdict the model distills from, or the
    * caller-graded column when `label` is passed — the FineWeb-Edu
    * shape), `score` the continuous quality estimate, `pred` the
    * thresholded decision.
    */
  def score(documents: DataFrame, alpha: Double = 1.0, threshold: Double = 0.5,
            label: Option[Column] = None): DataFrame = {
    // Two materialization points: the tokenized corpus (each feature
    // sub-operator reads it instead of re-splitting the text) and the
    // z frame itself (9 narrow columns) — the fit's Gram pass and the
    // scoring scan both read the SAME materialized features instead
    // of running the quality/repetition/langid join pipeline twice
    // (measured ~2× on the 100×-corpus probe).
    // An external label is evaluated against the INPUT frame INSIDE
    // the withToks projection (the grade expression may read any
    // input column the fixed projection drops) and rides the
    // checkpoint as ext_grade. It must NOT be re-attached by a
    // doc_id join afterwards: the optimizer plans that join
    // sort-merge (the parquet size estimate keeps the narrow grade
    // projection over the broadcast threshold at scale), shuffling
    // the corpus WITH its token arrays — measured 6× the unlabeled
    // path at the 100× probe (251 s vs 42.8 s) before this.
    val base = label match {
      case Some(c) => TextOps.withToks(documents, Seq(c -> "ext_grade")).honestCheckpoint()
      case None => TextOps.withToks(documents).honestCheckpoint()
    }
    val zf = zFrame(base, label.map(_ => col("ext_grade"))).honestCheckpoint()
    val beta = fitFromZ(zf, alpha)
    zf
      .select(col("doc_id"),
        (col("z7").cast("double") + lit(0.0)).as("label"),
        scoreCol(beta).as("score"))
      .withColumn("pred", col("score") >= threshold)
      .orderBy(col("doc_id"))
  }
}
