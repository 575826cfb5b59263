package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One SparkSession for the whole forked test JVM. */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  /** Jobs that `body` starts, counted by a listener up to a sentinel
    * job: listener events arrive in order, so once the sentinel is seen
    * every job `body` started has been counted.
    */
  protected def jobsStartedBy(body: => Unit): Int = {
    import scala.jdk.CollectionConverters._
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse(""))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      spark.sparkContext.setJobDescription("sentinel")
      spark.range(1).collect()
      spark.sparkContext.setJobDescription(null)
      val deadline = System.nanoTime() + 30000000000L
      while (!jobs.contains("sentinel") && System.nanoTime() < deadline) Thread.sleep(10)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.contains("sentinel"))
    jobs.asScala.takeWhile(_ != "sentinel").size
  }

  /** The first `T` in the cause chain of what `body` throws: a check
    * inside a Spark job reaches the driver wrapped in a SparkException.
    */
  protected def thrownCause[T <: Throwable](body: => Any)(implicit t: scala.reflect.ClassTag[T]): T = {
    val e = intercept[Throwable](body)
    Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .collectFirst { case x: T => x }
      .getOrElse(fail(s"expected a ${t.runtimeClass.getSimpleName}, got $e", e))
  }
}
