package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** The one rule for spreading a frame before CPU-bound per-row work
  * (tokenizing, shingling, a quadratic fan-out): a user-numbered
  * repartition, which AQE's byte-based coalescing leaves alone (it
  * would shrink a small-byte shuffle to about one partition).
  */
private[graft] object Spread {

  /** The partition count of every spread: the session's default parallelism. */
  def partitions(df: DataFrame): Int = df.sparkSession.sparkContext.defaultParallelism

  /** `df` hash-partitioned on `keys`, or round-robin without keys. */
  def apply(df: DataFrame, keys: String*): DataFrame =
    if (keys.isEmpty) df.repartition(partitions(df))
    else df.repartition(partitions(df), keys.map(col): _*)
}
