package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Parquet table catalog over a scale-factor directory.
  *
  * One accessor per testdata table; all reads go through [[table]] so
  * scan options stay in one place. Readers return unexecuted
  * DataFrames — Catalyst sees the whole downstream plan and pushes
  * filters/projections into the parquet scan.
  *
  * Readers start no Spark job: every table but `events` is read with
  * its declared schema ([[Tables.schemas]]), where inference would run
  * a one-task parquet footer job per read (the [[Formats]] rule, for
  * parquet). `events` keeps inference because its `ts` column has
  * shipped in two parquet encodings, and [[events]] branches on the
  * type the file resolves to.
  */
final class Tables(spark: SparkSession, dir: String) {
  def table(name: String): DataFrame =
    Tables.schemas.get(name).fold(spark.read)(spark.read.schema(_))
      .parquet(s"$dir/$name.parquet")

  def region: DataFrame = table("region")
  def nation: DataFrame = table("nation")
  def customer: DataFrame = table("customer")
  def supplier: DataFrame = table("supplier")
  def part: DataFrame = table("part")
  def orders: DataFrame = table("orders")
  def lineitem: DataFrame = table("lineitem")

  /** `events.ts` has shipped in two parquet encodings: TIMESTAMP(NANOS)
    * (which Spark only reads as a raw nanosecond long under the
    * `nanosAsLong` legacy flag) and plain TIMESTAMP(MICROS). Read
    * under the flag — it is a no-op for micros files — then branch on
    * the RESOLVED type: a LongType `ts` is nanoseconds and gets
    * truncated to micros; a TimestampType `ts` passes through
    * unchanged. Hard-coding either path breaks on the other encoding
    * (DIV on a TimestampType fails analysis; a bare read of a nanos
    * file throws).
    */
  def events: DataFrame = {
    // The legacy flag has no per-read option form (probed: a
    // DataFrameReader option is ignored and the read throws), so set
    // it only around the eager schema resolution and restore the
    // caller's value after. Execution of the returned (lazy) frame is
    // safe post-restore: the file schema was already resolved
    // (probed on this Spark version — see VerifySpec round-trip).
    // Synchronized on the session: the set/resolve/restore triple is
    // not atomic, so two concurrent events() calls could interleave
    // (one restoring while the other resolves, or recording the
    // other's transient "true" as the previous value).
    spark.synchronized {
      // nanosAsLong: lets a TIMESTAMP(NANOS) file resolve (as LONG)
      // instead of throwing. inferTimestampNTZ=false: a
      // TIMESTAMP(MICROS, isAdjustedToUTC=false) file resolves
      // directly to TimestampType at the SCAN, so ts filters stay
      // pushable — casting NTZ->LTZ after the fact would wrap the
      // column and block parquet predicate pushdown. Session TZ is
      // pinned to UTC, so the NTZ-as-LTZ reading is the same instant
      // the nanos path produced.
      val flags = Seq(
        "spark.sql.legacy.parquet.nanosAsLong" -> "true",
        "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false")
      val prev = flags.map { case (k, _) => k -> spark.conf.getOption(k) }
      flags.foreach { case (k, v) => spark.conf.set(k, v) }
      try Tables.normalizeEventsTs(table("events"))
      finally prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None)    => spark.conf.unset(k)
      }
    }
  }
  def documents: DataFrame = table("documents")
  def embeddings: DataFrame = table("embeddings")

  /** Partitioned parquet writer — the shape we'd use for a curated
    * 100 TB dataset: partition columns for pruning, one file per
    * task.
    */
  def write(df: DataFrame, path: String, partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode("overwrite")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
  }
}

/** Bucketed table writes — pre-shuffled storage. A table bucketed
  * (and sorted) by its join/aggregation key lets every later
  * equi-join or groupBy on that key run WITHOUT a shuffle: the scan
  * itself reports hash partitioning. At 100 TB this turns the
  * nightly fact⋈fact join from two full shuffles into zero.
  */
object Bucketed {
  def write(df: DataFrame, table: String, key: String, buckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, key).sortBy(key)
      .format("parquet").saveAsTable(table) // managed, under spark.sql.warehouse.dir
}

/** Non-parquet sources/sinks. Schemas are always EXPLICIT on read:
  * inference needs an extra full pass over the data (ruinous at
  * 100 TB) and can silently mistype columns; a declared schema makes
  * the read one pass and the types a contract.
  */
object Formats {
  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("header", "true").csv(path)

  def readCsv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).option("header", "true").csv(path)

  def writeJsonLines(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  def readJsonLines(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)

  def readOrc(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).orc(path)
}

object Tables {
  def apply(spark: SparkSession, dir: String): Tables = new Tables(spark, dir)

  private def schema(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (name, t) => StructField(name, t) })

  /** The declared schema of every table but `events`: exactly what
    * parquet inference resolves on the testdata (every column
    * nullable; the `TIMESTAMP(MICROS)` dates are not UTC-adjusted, so
    * they resolve to TimestampNTZType). TablesSpec holds the two equal.
    */
  val schemas: Map[String, StructType] = Map(
    "region" -> schema("r_regionkey" -> IntegerType, "r_name" -> StringType),
    "nation" -> schema("n_nationkey" -> IntegerType, "n_name" -> StringType,
      "n_regionkey" -> IntegerType),
    "customer" -> schema("c_custkey" -> LongType, "c_name" -> StringType,
      "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType, "c_mktsegment" -> StringType),
    "supplier" -> schema("s_suppkey" -> LongType, "s_name" -> StringType,
      "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType),
    "part" -> schema("p_partkey" -> LongType, "p_name" -> StringType,
      "p_brand" -> StringType, "p_type" -> StringType, "p_size" -> IntegerType,
      "p_retailprice" -> DoubleType),
    "orders" -> schema("o_orderkey" -> LongType, "o_custkey" -> LongType,
      "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
      "o_orderdate" -> TimestampNTZType, "o_orderpriority" -> StringType),
    "lineitem" -> schema("l_orderkey" -> LongType, "l_partkey" -> LongType,
      "l_suppkey" -> LongType, "l_linenumber" -> IntegerType, "l_quantity" -> DoubleType,
      "l_extendedprice" -> DoubleType, "l_discount" -> DoubleType, "l_tax" -> DoubleType,
      "l_returnflag" -> StringType, "l_linestatus" -> StringType,
      "l_shipdate" -> TimestampNTZType),
    "documents" -> schema("doc_id" -> LongType, "text" -> StringType,
      "lang" -> StringType, "source" -> StringType, "n_chars" -> LongType),
    "embeddings" -> schema("vec_id" -> LongType,
      "embedding" -> ArrayType(FloatType, containsNull = true), "label" -> IntegerType))

  /** Normalize the `ts` column of an events frame to TimestampType.
    *
    * LongType means the file stored TIMESTAMP(NANOS) and was read
    * under `nanosAsLong`: truncate to microseconds with integer DIV
    * (a double division would lose precision above 2^53 ns;
    * truncation is monotone, so orderings and second-aligned cutoff
    * comparisons agree with ns-native engines). TimestampType means
    * the file already stored micros: pass through untouched — the
    * column stays a plain scan output, so pushdown/pruning on `ts`
    * is preserved.
    */
  def normalizeEventsTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // Fallback for an NTZ-resolved frame (e.g. a caller that read
        // events without the inferTimestampNTZ flag). Session TZ is
        // UTC, so the cast re-labels the same micros value.
        df.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }
}
