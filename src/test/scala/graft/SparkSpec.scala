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

  /** Two sessions over the test session's context: one that runs
    * generated code wherever Catalyst can — a codegen failure fails
    * instead of falling back to interpretation, and a projection over
    * local data is not folded away at optimization — and one that
    * evaluates every expression interpreted (no whole-stage or
    * expression codegen).
    */
  protected lazy val bothEvalModes: Seq[SparkSession] = {
    val generated = spark.newSession()
    generated.conf.set("spark.sql.codegen.fallback", "false")
    generated.conf.set("spark.sql.optimizer.excludedRules",
      "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation")
    val interpreted = spark.newSession()
    interpreted.conf.set("spark.sql.codegen.wholeStage", "false")
    interpreted.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    Seq(generated, interpreted)
  }

  /** Jobs that `body` starts (see [[listening]]). */
  protected def jobsStartedBy(body: => Unit): Int = {
    import scala.jdk.CollectionConverters._
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    listening(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.add(description(e))
    })(body)
    jobs.asScala.takeWhile(_ != "sentinel").size
  }

  /** Run `body` with `listener` registered, then a sentinel job, and
    * return once the sentinel's start has been delivered: listener
    * events arrive in order, so by then `listener` has seen every
    * event of the jobs `body` started.
    */
  protected def listening(listener: org.apache.spark.scheduler.SparkListener)(body: => Unit): Unit = {
    val seen = new java.util.concurrent.CountDownLatch(1)
    val sentinel = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (description(e) == "sentinel") seen.countDown()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    sc.addSparkListener(sentinel)
    try {
      body
      sc.setJobDescription("sentinel")
      spark.range(1).collect()
      sc.setJobDescription(null)
      assert(seen.await(30, java.util.concurrent.TimeUnit.SECONDS), "the sentinel job was never seen")
    } finally {
      sc.removeSparkListener(sentinel)
      sc.removeSparkListener(listener)
    }
  }

  private def description(e: org.apache.spark.scheduler.SparkListenerJobStart): String =
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")

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
