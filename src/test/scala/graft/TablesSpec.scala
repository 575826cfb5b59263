package graft

import java.sql.Timestamp

import graft.sources.Tables
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, TimestampType}

/** Regression coverage for the events `ts` encoding branch: the
  * testdata has shipped both TIMESTAMP(NANOS) (resolved as LongType
  * under the legacy flag) and TIMESTAMP(MICROS) (resolved as
  * TimestampType). Hard-coding either path crashed every
  * events-derived query when the other encoding appeared.
  */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  test("normalizeEventsTs truncates a LongType nanos column to micros") {
    // 2^53-breaking value: 4102444800123456789 ns. A double round-trip
    // would corrupt the low digits; integer DIV must keep them exact.
    val df = Seq(
      (1L, 4102444800123456789L), // 2100-01-01 00:00:00.123456789
      (2L, 1735689600000000000L), // 2025-01-01 00:00:00.000000000
      (3L, 1735689600999999999L)  // sub-micro tail truncated, not rounded
    ).toDF("event_id", "ts")
    val out = Tables.normalizeEventsTs(df)
    assert(out.schema("ts").dataType === TimestampType)
    val got = out.orderBy("event_id").select("ts").as[Timestamp].collect()
    assert(got(0) === Timestamp.valueOf("2100-01-01 00:00:00.123456"))
    assert(got(1) === Timestamp.valueOf("2025-01-01 00:00:00.0"))
    assert(got(2) === Timestamp.valueOf("2025-01-01 00:00:00.999999"))
  }

  test("normalizeEventsTs passes a TimestampType column through untouched") {
    val df = Seq((1L, Timestamp.valueOf("2026-01-01 10:00:00.123456")))
      .toDF("event_id", "ts")
    val out = Tables.normalizeEventsTs(df)
    assert(out.schema("ts").dataType === TimestampType)
    // Identity, not a rewrite: same logical plan means the column is
    // still a bare scan output, so ts pushdown/pruning survives.
    assert(out.queryExecution.logical eq df.queryExecution.logical)
  }

  test("events() reads the current testdata encoding end-to-end") {
    val t = Tables(spark, "/root/testdata/sf0.001")
    val ev = t.events
    assert(ev.schema("ts").dataType === TimestampType)
    assert(ev.filter(col("ts").isNotNull).limit(1).count() === 1L)
  }

  test("normalizeEventsTs handles a LongType ts round-tripped through parquet") {
    // Simulate the nanos encoding as the reader sees it post-flag:
    // the file schema resolves ts to LONG. Write/read through parquet
    // so the branch is exercised against a real scan, not an
    // in-memory LocalRelation.
    val dir = java.nio.file.Files.createTempDirectory("graft-events-ns").toString
    Seq((1L, 1735689600123456789L)).toDF("event_id", "ts")
      .write.mode("overwrite").parquet(dir)
    val raw = spark.read.parquet(dir)
    assert(raw.schema("ts").dataType === LongType)
    val got = Tables.normalizeEventsTs(raw).select("ts").as[Timestamp].collect()
    assert(got.head === Timestamp.valueOf("2025-01-01 00:00:00.123456"))
  }

  test("every declared schema is the schema parquet inference resolves") {
    val testdata = new java.io.File(PlanGate.defaultSf).getParent
    for (sf <- Seq("sf0.001", "sf0.01"); (name, declared) <- Tables.schemas) {
      val path = s"$testdata/$sf/$name.parquet"
      // StructType equality covers names, types, nullability, element
      // nullability (containsNull) and field metadata
      assert(declared === spark.read.parquet(path).schema, s"$sf/$name")
      assert(Tables(spark, s"$testdata/$sf").table(name).schema === declared, s"$sf/$name")
    }
    assert(!Tables.schemas.contains("events"), "events resolves its ts encoding by inference")
  }

  test("reading a declared table starts no Spark job") {
    import scala.jdk.CollectionConverters._
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse(""))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val t = Tables(spark, PlanGate.defaultSf)
      t.documents.schema
      Tables.schemas.keys.foreach(n => t.table(n).schema)
      // listener events arrive in order: once this job is seen, every
      // job the reads started has been counted
      spark.sparkContext.setJobDescription("sentinel")
      spark.range(1).collect()
      spark.sparkContext.setJobDescription(null)
      val deadline = System.nanoTime() + 30000000000L
      while (!jobs.contains("sentinel") && System.nanoTime() < deadline) Thread.sleep(10)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.contains("sentinel"))
    val started = jobs.asScala.takeWhile(_ != "sentinel").size
    assert(started === 0, s"reading the declared tables started $started jobs")
  }
}
