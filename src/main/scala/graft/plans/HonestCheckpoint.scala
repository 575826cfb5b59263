package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Syntax for [[ColumnBridge.honestCheckpoint]] — the eager
  * localCheckpoint whose statistics reflect the MATERIALIZED size
  * instead of the pre-checkpoint estimate, so downstream joins
  * decide broadcast-vs-shuffle on truth. Use this for every
  * checkpointed frame that is later JOINED (shingle frames, rank
  * prefixes, code tables); the stock `.localCheckpoint(true)` is
  * fine for frames that are only scanned/written.
  */
object HonestCheckpoint {
  /** Row count of `df` as ONE job with no exchange: every partition
    * counts its rows of an empty projection (a parquet scan reads no
    * column for it) and the driver sums the partition counts.
    * `Dataset.count()` plans a global aggregate instead, which under
    * AQE runs as two jobs (a map stage, then the final stage) with a
    * round trip between them.
    */
  def countRows(df: DataFrame): Long = df.select().queryExecution.toRdd.count()

  implicit class HonestCheckpointOps(private val df: DataFrame) extends AnyVal {
    def honestCheckpoint(): DataFrame = ColumnBridge.honestCheckpoint(df)

    /** Frees a superseded checkpoint's blocks now — see
      * ColumnBridge.releaseCheckpoint.
      */
    def releaseCheckpoint(): Unit = ColumnBridge.releaseCheckpoint(df)

    /** Frees the blocks of every checkpoint this frame reads — a
      * build's working frame once a later checkpoint or a save has
      * superseded it. Only for frames over the caller's own
      * checkpoints; the frame must not be read again.
      */
    def releaseSources(): Unit =
      df.queryExecution.analyzed.collectLeaves().foreach {
        case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.unpersist(blocking = false)
        case _ =>
      }

    /** [[honestCheckpoint]] that re-declares the hash partitioning an
      * explicit `repartition(n, cols)` physically gave the frame (AQE
      * checkpoints otherwise surface as Unknown partitioning and
      * force downstream re-shuffles). ONLY call directly above that
      * repartition — see ColumnBridge.honestCheckpointHashPartitioned.
      */
    def honestCheckpointHashPartitioned(n: Int, cols: String*): DataFrame =
      ColumnBridge.honestCheckpointHashPartitioned(df, cols, n)
  }
}
