package graft.operators

import graft.functions.Exact._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Time-series cross-validated model evaluation — the reference
  * demo's `evaluate(model, X, y, cv=ts_cv)` loop
  * (finanalyzer/regressors/to_review/plot_cyclical_feature_engineering.py:222-238),
  * which scores every feature encoding by MAE/RMSE across the
  * TimeSeriesSplit folds. Composes [[Curation.timeSplit]] (fold
  * membership), [[Ridge]] (closed-form fit on each fold's TRAIN
  * slice), and per-fold error aggregation over the TEST slice.
  *
  * Scale shape — BATCHED across folds, not a loop of per-fold jobs:
  * fold membership is one prefix-sum pass; then ONE fold-tagged scan
  * aggregates ALL folds' Gram matrices simultaneously (train rows
  * fan out to their folds pre-shuffle; nSplits × 36 decimals reach
  * the driver), the driver solves nSplits 7×7 systems, and ONE
  * scoring pass evaluates every test row with its fold's
  * coefficients as literal CASE WHEN algebra. 3 jobs total,
  * independent of nSplits — the previous per-fold loop ran
  * 2·nSplits + 1 sequential jobs whose fixed scheduler latency
  * dominated wall-time on the bench gate.
  *
  * Determinism: Gram sums are exact decimals; MAE/RMSE aggregate the
  * 6-dp-quantized residuals as exact DECIMAL sums (order-independent)
  * with one final double division — so the metrics are identical
  * under any partitioning, and replayable by a SQL oracle.
  */
object CvEval {

  /** One row per fold: test size, MAE, RMSE of the ridge model fit
    * on that fold's expanding window.
    */
  def ridgeCv(events: DataFrame, nSplits: Int = 5, gap: Long = 48,
              maxTrainSize: Long = 10000, testSize: Long = 1000,
              alpha: Double = 1.0): DataFrame = {
    val folds = Curation.timeSplit(events, nSplits, gap, maxTrainSize, testSize)
      .select(col("fold"), col("role"), col("event_id"))
      .localCheckpoint(true) // consumed by the Gram pass AND the scoring pass
    val z = Ridge.zFrame(events)

    // Job 1: every fold's Gram matrix in one fold-tagged aggregation.
    // Train slices overlap across folds (expanding windows), so the
    // membership join fans each z row out to the folds it serves —
    // the same row multiplicity the per-fold loop paid, but in one
    // map-side-combined shuffle instead of nSplits sequential ones.
    val gramCols = Ridge.gramSumCols
    val gramRows = z
      .join(folds.filter(col("role") === "train").select(col("fold"), col("event_id")), "event_id")
      .groupBy(col("fold"))
      .agg(gramCols.head, gramCols.tail: _*)
      .collect()
    val betas: Map[Long, Array[Double]] = gramRows.map { row =>
      def s(i: Int, j: Int): Double = {
        val v = row.getDecimal(1 + Ridge.upperTriangle.indexOf((i, j)))
        if (v == null) 0.0 else v.doubleValue()
      }
      row.getLong(0) -> Ridge.solveFromSums(s, alpha)
    }.toMap
    require(betas.size == nSplits,
      s"ridgeCv: ${nSplits - betas.size} of $nSplits folds have an empty train slice")

    // Job 2: one scoring pass — each test row picks its fold's
    // coefficients via a literal CASE chain (fold count is tiny).
    def betaCase(i: Int): Column = {
      val sorted = betas.toSeq.sortBy(_._1)
      sorted.tail.foldLeft(when(col("fold") === sorted.head._1, lit(sorted.head._2(i)))) {
        case (acc, (f, beta)) => acc.when(col("fold") === f, lit(beta(i)))
      }
    }
    val yhat = (0 until Ridge.D - 1)
      .map(i => col(s"z$i").cast("double") * betaCase(i))
      .reduce(_ + _)
    z.join(folds.filter(col("role") === "test").select(col("fold"), col("event_id")), "event_id")
      .withColumn("prediction", round(yhat, 6))
      .withColumn("residual",
        round(col("z7").cast("double") - col("prediction"), 6).cast(DecimalType(18, 6)))
      .groupBy(col("fold"))
      .agg(count(lit(1)).as("n_test"),
        (sum(abs(col("residual"))) * 1000000).cast("long").as("sum_abs_u"),
        (round(sqrt(sum(col("residual") * col("residual")).cast("double") / count(lit(1))), 6)
          + lit(0.0)).as("rmse"))
      // MAE is tie-exact over 1e-6 residual units (a power-of-two
      // testSize makes the mean binary-exact); RMSE keeps double
      // rounding — sqrt output has no exact-tie structure.
      .withColumn("mae", ratio6("sum_abs_u", "n_test", scale = 1))
      .select(col("fold"), col("n_test"), col("mae"), col("rmse"))
      .orderBy(col("fold"))
  }
}
