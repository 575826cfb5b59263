package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge to the `private[sql]` Column ↔ Expression converters.
  * Lives under org.apache.spark.sql so graft's custom Catalyst
  * expressions can be exposed through the public Column API (the
  * supported pattern for Spark-native extension libraries).
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** DataFrame from a hand-built logical plan (for custom operators). */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan):
      org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Analyzed logical plan of a DataFrame. */
  def planOf(df: org.apache.spark.sql.DataFrame):
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.queryExecution.analyzed

  /** Eager localCheckpoint with HONEST post-materialization
    * statistics.
    *
    * `Dataset.localCheckpoint` carries the PRE-checkpoint size
    * estimate into the LogicalRDD it returns (SPARK-39869
    * semantics), and estimates through explode/join/window chains
    * routinely undershoot reality by orders of magnitude. Every
    * downstream join then decides broadcast-vs-shuffle on fiction:
    * at 100× bench scale a 536 MB checkpointed shingle frame was
    * planned as the BUILD side of BroadcastHashJoins — two
    * single-threaded driver hash-relation builds of 77 s and 39 s
    * (and at real cluster scale, a driver OOM instead). The blocks
    * are MATERIALIZED by the time this returns, so the real size is
    * sitting in the block manager; this helper rebinds the
    * LogicalRDD with `Statistics(sizeInBytes = actual)` and lets
    * every downstream join decide on truth. Behavior-neutral where
    * estimates were already honest (bench-SF plans unchanged — the
    * plan gate pins that).
    */
  def honestCheckpoint(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val out = df.localCheckpoint(true)
    out.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        val sc = df.sparkSession.sparkContext
        sc.getRDDStorageInfo.find(_.id == l.rdd.id) match {
          case Some(info) if info.memSize + info.diskSize > 0 =>
            val honest = new org.apache.spark.sql.execution.LogicalRDD(
              l.output, l.rdd, l.outputPartitioning, l.outputOrdering,
              l.isStreaming, l.stream)(
              df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
              Some(org.apache.spark.sql.catalyst.plans.logical.Statistics(
                sizeInBytes = info.memSize + info.diskSize)),
              None)
            ofRows(df.sparkSession, honest)
          case _ => out
        }
      case _ => out
    }
  }

  /** Frees the blocks behind a checkpoint made by [[honestCheckpoint]]
    * (non-blocking, as `Dataset.unpersist()`), for loops that supersede
    * their checkpoints before the ContextCleaner would collect them.
    * The frame must not be read again. A no-op on any frame that is not
    * a bare checkpoint.
    */
  def releaseCheckpoint(df: org.apache.spark.sql.DataFrame): Unit =
    df.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.unpersist(blocking = false)
      case _ =>
    }

  /** [[honestCheckpoint]] that additionally RESTORES a hash
    * partitioning the checkpoint physically has but can no longer
    * prove.
    *
    * Under AQE, `localCheckpoint` captures the adaptive plan's
    * partitioning as Unknown, so a frame that was explicitly
    * `repartition(n, cols)`-ed loses that fact across the
    * materialization — and every downstream aggregation/join keyed on
    * `cols` re-shuffles the materialized blocks for nothing (measured
    * on text_repetition: 4 → 12 Exchanges when its tokenize frame was
    * first checkpointed naively). The blocks' placement is untouched
    * by the checkpoint (partition-per-partition), so when the caller
    * GUARANTEES the frame sits directly on an explicit
    * `repartition(n, cols)` (which AQE never coalesces — only
    * advisory repartitions are), re-declaring
    * HashPartitioning(cols, n) is exact, not a hint.
    *
    * ONLY sound immediately above an explicit-N
    * `repartition(n, cols)` (plus partitioning-preserving projections)
    * with exactly those columns in that order: the declared
    * partitioning is what EnsureRequirements will TRUST — a wrong
    * declaration silently mis-joins. The partition count is read back
    * from the materialized RDD and must match the caller's `n`.
    */
  def honestCheckpointHashPartitioned(df: org.apache.spark.sql.DataFrame,
                                      cols: Seq[String],
                                      n: Int): org.apache.spark.sql.DataFrame = {
    val out = honestCheckpoint(df)
    out.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        require(l.rdd.getNumPartitions == n,
          s"checkpointed RDD has ${l.rdd.getNumPartitions} partitions, caller declared $n — " +
            "the frame is not the explicit repartition output the declaration requires")
        val attrs = cols.map(c => l.output.find(_.name == c).getOrElse(
          throw new IllegalArgumentException(s"no column $c in checkpointed output")))
        val hp = org.apache.spark.sql.catalyst.plans.physical.HashPartitioning(attrs, n)
        val stats = l.computeStats()
        val pinned = new org.apache.spark.sql.execution.LogicalRDD(
          l.output, l.rdd, hp, l.outputOrdering, l.isStreaming, l.stream)(
          df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
          Some(stats), None)
        ofRows(df.sparkSession, pinned)
      case _ => out
    }
  }
}
