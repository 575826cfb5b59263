package graft
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.get("graft-verify")
    new java.io.File(outDir).mkdirs()
    // A failed query must still produce output: with no parquet dir
    // the driver's compare simply omits the query from
    // CORRECTNESS_r{N}.json and the gate reads clean while verifying
    // nothing (round 7: 69 crashed queries vanished this way). Write
    // a marker row whose schema can never match any oracle, so the
    // crash surfaces as an explicit rows/schema/hash FAIL entry.
    val failed = scala.collection.mutable.ListBuffer[String]()
    SparkEntry.queries.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        failed += name
        System.err.println(s"[verify] $name FAILED: ${e.getMessage}")
        try {
          import spark.implicits._
          Seq(("__QUERY_FAILED__", s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(500)}"))
            .toDF("__query_failed__", "__error__")
            .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        } catch { case _: Throwable => () }
      }
    }
    if (failed.nonEmpty)
      System.err.println(s"[verify] ${failed.size}/${SparkEntry.queries.size} queries FAILED: ${failed.mkString(", ")}")
    new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValue(new java.io.File(s"$outDir/oracle_sql.json"), SparkEntry.oracleSql)
    spark.stop()
  }
}
