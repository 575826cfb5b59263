package graftbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.{ClassTagExtensions, DefaultScalaModule}
import graft.{GraftSession, SparkEntry}
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand
import org.apache.spark.sql.execution.{QueryExecution, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.util.QueryExecutionListener

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** What one harness run does, read from the JSON file that `run.py` writes.
  * A pass runs every phase once; a phase is a named list of registered
  * queries run back to back. A `build` phase starts on an emptied index
  * root; `build` and `serve` phases feed the `index.*` figures.
  */
final case class Config(tables: String, tablesRead: Seq[String], phases: Seq[(String, Seq[String])],
                        seconds: Double, trace: Boolean, answers: String, out: String)

/** One timed query execution; its answer is written under `answer`, if set. */
final case class Exec(pass: Int, phase: String, query: String, wallS: Double,
                      frameS: Double, writeS: Double, error: String, answer: String)

/** Listener-side record of a traced pass, keyed by the span label that
  * the client thread sets as a job-local property:
  * `pass/phase/query/part`, where part is `frame` or `write`.
  * The output columns of every `noop` write are kept, traced or not.
  */
final class Tracer extends SparkListener with QueryExecutionListener with AdaptiveSparkPlanHelper {
  @volatile var enabled = false
  final case class JobSpan(label: String, start: Long, var end: Long = -1L)
  final class Agg {
    var stages = 0L; var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var spill = 0L; var shWrite = 0L; var shRead = 0L; var fetchMs = 0L
    var inBytes = 0L; var inRows = 0L; var failedTasks = 0L
    val taskMs = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
  }
  final case class PlanRec(phases: Map[String, Double], exprNodes: Long, exchanges: Long)
  final case class StageSpan(id: Int, job: Int, start: Long, end: Long)

  val jobs = mutable.LinkedHashMap.empty[Int, JobSpan]
  val aggs = mutable.HashMap.empty[String, Agg]
  private val stageLabel = mutable.HashMap.empty[Int, String]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  val stageSpans = mutable.ArrayBuffer.empty[StageSpan]
  val plans = mutable.ArrayBuffer.empty[PlanRec]
  val writeColumns = mutable.ArrayBuffer.empty[Seq[(String, String)]]
  private var events = 0L

  private def labelOf(p: java.util.Properties): Option[String] =
    Option(p).flatMap(x => Option(x.getProperty(Tracer.Key)))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    events += 1
    if (enabled) labelOf(e.properties).foreach { l =>
      jobs(e.jobId) = JobSpan(l, e.time)
      e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
    }
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    events += 1
    jobs.get(e.jobId).foreach(_.end = e.time)
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    events += 1
    if (enabled) labelOf(e.properties).foreach { l =>
      stageLabel(e.stageInfo.stageId) = l
      aggs.getOrElseUpdate(l, new Agg).stages += 1
    }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    events += 1
    val i = e.stageInfo
    for (job <- stageJob.get(i.stageId); s <- i.submissionTime; c <- i.completionTime)
      stageSpans += StageSpan(i.stageId, job, s, c)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    events += 1
    stageLabel.get(e.stageId).foreach { l =>
      val a = aggs.getOrElseUpdate(l, new Agg)
      a.tasks += 1
      if (e.reason != org.apache.spark.Success || (e.taskInfo != null && e.taskInfo.attemptNumber > 0))
        a.failedTasks += 1
      if (e.taskInfo != null)
        a.taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        a.runMs += m.executorRunTime; a.cpuNs += m.executorCpuTime; a.gcMs += m.jvmGCTime
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.shWrite += m.shuffleWriteMetrics.bytesWritten
        a.shRead += m.shuffleReadMetrics.totalBytesRead
        a.fetchMs += m.shuffleReadMetrics.fetchWaitTime
        a.inBytes += m.inputMetrics.bytesRead; a.inRows += m.inputMetrics.recordsRead
      }
    }
  }

  /** The optimized `noop` write of a listener event, if it is one. */
  private def noopWrite(qe: QueryExecution) = qe.optimizedPlan match {
    case w: V2WriteCommand if w.table.name.contains("noop") => Some(w)
    case _ => None
  }
  private def columns(w: V2WriteCommand) = w.query.output.map(a => a.name -> a.dataType.catalogString)

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    noopWrite(qe).foreach { w =>
      val rec = if (!enabled) None else {
        var nodes = 0L
        w.query.foreach(_.expressions.foreach(_.foreach(_ => nodes += 1)))
        val exchanges = collect(qe.executedPlan) { case x: ShuffleExchangeLike => x }.size
        Some(PlanRec(qe.tracker.phases.map { case (k, p) => k -> (p.durationMs / 1e3) }, nodes, exchanges))
      }
      synchronized { writeColumns += columns(w); rec.foreach(plans += _) }
    }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    noopWrite(qe).foreach(w => synchronized { writeColumns += columns(w) })

  /** Wait until the listeners have seen `writes` noop writes, every
    * recorded job has ended, and no event arrived for 150 ms. */
  def drain(writes: Int): Unit = {
    var stable = 0
    var last = -1L
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (stable < 3 && System.nanoTime() < deadline) {
      Thread.sleep(50)
      val (n, done) = synchronized((events, writeColumns.size >= writes && jobs.values.forall(_.end >= 0)))
      if (done && n == last) stable += 1 else stable = 0
      last = n
    }
  }

  def reset(): Unit = synchronized {
    jobs.clear(); aggs.clear(); stageLabel.clear(); stageJob.clear(); stageSpans.clear(); plans.clear()
  }
}

object Tracer { val Key = "graftbench.span" }

/** Client-side record of one traced query: its span and the JVM-wide
  * counters sampled at its boundaries. */
final case class Boundary(label: String, phase: String, query: String, startMs: Long, endMs: Long,
                          wallS: Double, frameS: Double, writeS: Double,
                          codegenNs: Long, codegenClasses: Long, gcMs: Long)

object Harness {
  private val json = {
    val m = new ObjectMapper() with ClassTagExtensions
    m.registerModule(DefaultScalaModule)
    m
  }

  def main(args: Array[String]): Unit = args.toSeq match {
    case Seq("oracle", out) => json.writeValue(new File(out), SparkEntry.oracleSql)
    case Seq("run", config) => run(json.readValue[Config](new File(config)))
    case _ => sys.error("usage: Harness oracle <out.json> | Harness run <config.json>")
  }

  private def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  private def resetHwm(): Unit =
    try Files.writeString(Paths.get("/proc/self/clear_refs"), "5")
    catch { case _: Throwable => () }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  private def compiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def indexDirs(root: File): Seq[File] =
    Option(root.listFiles()).toSeq.flatten
      .filter(f => f.getName.startsWith("graft_") && f.getName.contains("_index_"))

  private def emptyIndexRoot(root: File): Unit = indexDirs(root).foreach(deleteTree)

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }

  private def treeFiles(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(treeFiles) else Seq(f)

  def run(cfg: Config): Unit = {
    val dir = cfg.tables
    // The served queries keep their frozen indexes under java.io.tmpdir.
    val indexRoot = new File(System.getProperty("java.io.tmpdir"))

    val t0 = System.nanoTime()
    val spark = GraftSession.get("graftbench")
    val sessionStartS = (System.nanoTime() - t0) / 1e9
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext
    val tracer = new Tracer
    sc.addSparkListener(tracer)
    spark.listenerManager.register(tracer)

    val execs = mutable.ArrayBuffer.empty[Exec]
    val bounds = mutable.ArrayBuffer.empty[Boundary]
    val writeLabels = mutable.ArrayBuffer.empty[(String, Seq[(String, String)])]
    var peakMaterialized = 0L

    // The frames of the latest timed pass, by their index in `execs`.
    val passFrames = mutable.ArrayBuffer.empty[(Int, DataFrame)]

    /** One pass: every phase's queries once, in order. */
    def pass(p: Int, timed: Boolean, traced: Boolean): Unit = {
      if (timed) passFrames.clear()
      cfg.phases.foreach { case (phase, names) =>
        if (phase == "build") emptyIndexRoot(indexRoot)
        names.foreach { name =>
          val label = s"$p/$phase/$name"
          var frameS, writeS = 0.0
          var err = ""
          var df: DataFrame = null
          val cg0 = WholeStageCodegenExec.codeGenTime
          val cc0 = compiles()
          val gc0 = gcMs()
          val startMs = System.currentTimeMillis()
          val a = System.nanoTime()
          try {
            sc.setLocalProperty(Tracer.Key, s"$label/frame")
            df = SparkEntry.queries(name)(spark, dir)
            val b = System.nanoTime()
            frameS = (b - a) / 1e9
            if (traced) peakMaterialized = peakMaterialized.max(materializedBytes(spark))
            sc.setLocalProperty(Tracer.Key, s"$label/write")
            writeLabels += ((label, df.schema.fields.toSeq.map(f => f.name -> f.dataType.catalogString)))
            df.write.format("noop").mode("overwrite").save()
            writeS = (System.nanoTime() - b) / 1e9
          } catch {
            case e: Throwable => err = s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}"
          } finally sc.setLocalProperty(Tracer.Key, null)
          val wallS = (System.nanoTime() - a) / 1e9
          if (traced) {
            peakMaterialized = peakMaterialized.max(materializedBytes(spark))
            bounds += Boundary(label, phase, name, startMs, System.currentTimeMillis(), wallS, frameS,
              writeS, WholeStageCodegenExec.codeGenTime - cg0, compiles() - cc0, gcMs() - gc0)
          }
          if (timed) {
            if (err.isEmpty) passFrames += ((execs.size, df))
            execs += Exec(p, phase, name, wallS, frameS, writeS, err, "")
          } else if (err.nonEmpty) System.err.println(s"[graftbench] $label: $err")
        }
      }
    }

    // Set-up: session start, then one untimed pass (cold codegen, JIT,
    // parquet footers, the first index build).
    pass(0, timed = false, traced = false)
    val setupS = (System.nanoTime() - t0) / 1e9
    tracer.drain(writeLabels.size)
    resetHwm()
    // Timed passes until the time budget is spent, at least two of
    // them. Pass time still falls for several passes as the JIT
    // compiles; the median over the run's passes absorbs the first,
    // slowest ones. The traced run alternates untraced and traced
    // passes on the same inputs, so their difference is the tracing
    // overhead.
    val passes = mutable.ArrayBuffer.empty[(Int, Boolean, Double)]
    val layerRows = mutable.ArrayBuffer.empty[Map[String, Double]]
    var p = 1
    while (p <= 2 || passes.map(_._3).sum < cfg.seconds) {
      val traced = cfg.trace && p % 2 == 0
      if (traced) {
        tracer.drain(writeLabels.size)
        tracer.reset(); bounds.clear(); peakMaterialized = 0L
        tracer.enabled = true
      }
      pass(p, timed = true, traced)
      passes += ((p, traced, execs.filter(_.pass == p).map(_.wallS).sum))
      if (traced) {
        tracer.drain(writeLabels.size)
        tracer.enabled = false
        layerRows += layers(tracer, bounds.toSeq, passes.last._3, peakMaterialized, cfg, indexRoot)
      }
      p += 1
    }
    val peakRss = vmHwmMb()
    // Untimed, after the timed passes: the answers of the last timed
    // pass, written from the same frames for run.py to check. Writing
    // every pass's answers would re-run every query, and writes between
    // timed queries slowed the query after them.
    val w0 = System.nanoTime()
    passFrames.foreach { case (i, df) =>
      val e = execs(i)
      val answer = s"${cfg.answers}/${e.pass}-${e.phase}-${e.query}-$i"
      execs(i) = try { df.write.parquet(answer); e.copy(answer = answer) }
      catch { case x: Throwable => e.copy(error = s"answer not written: ${x.getClass.getName}: ${x.getMessage}") }
    }
    val answerWriteS = (System.nanoTime() - w0) / 1e9
    tracer.drain(writeLabels.size)
    // Every noop write must carry its query's whole schema: no column
    // may be pruned out of the timed answer by the optimizer.
    val schemaErrors = tracer.synchronized(writeLabels.zip(tracer.writeColumns).collect {
      case ((label, want), got) if want != got => label
    })
    val probe = (1 to 3).map { _ =>
      val a = System.nanoTime(); spark.range(1000000).selectExpr("sum(id)").collect()
      (System.nanoTime() - a) / 1e9
    }.sorted.apply(1)
    json.writeValue(new File(cfg.out), Map(
      "setup_s" -> setupS, "session.start_s" -> sessionStartS, "session.warm_s" -> (setupS - sessionStartS),
      "peak_rss_mb" -> peakRss, "probe_s" -> probe, "answer_write_s" -> answerWriteS,
      "schema_errors" -> schemaErrors,
      "passes" -> passes.map { case (i, t, w) => Map("pass" -> i, "traced" -> t, "wall_s" -> w) },
      "executions" -> execs.map(e => Map(
        "pass" -> e.pass, "phase" -> e.phase, "query" -> e.query, "wall_s" -> e.wallS,
        "frame_s" -> e.frameS, "write_s" -> e.writeS, "error" -> e.error, "answer" -> e.answer)),
      "layers" -> layerRows, "spans" -> spans(tracer, bounds.toSeq)))
    spark.stop()
  }

  private def materializedBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  private def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS, curE = Long.MinValue
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = curE.max(e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  private def jobsOf(t: Tracer, b: Boundary, part: Option[String]): Seq[(Long, Long)] =
    t.jobs.values.toSeq
      .filter(j => j.label.startsWith(b.label + "/") && part.forall(p => j.label.endsWith("/" + p)))
      .map(j => (j.start.max(b.startMs), j.end.min(b.endMs)))

  /** The last traced pass as nested spans: query -> frame | write -> job -> stage. */
  private def spans(t: Tracer, bounds: Seq[Boundary]): Seq[Map[String, Any]] = t.synchronized {
    def span(name: String, s: Long, e: Long, parent: String) =
      Map("name" -> name, "start_ms" -> s, "end_ms" -> e, "parent" -> parent)
    bounds.flatMap { b =>
      val frameEnd = b.startMs + (b.frameS * 1000).round
      Seq(span(b.label, b.startMs, b.endMs, ""),
        span(s"${b.label}/frame", b.startMs, frameEnd, b.label),
        span(s"${b.label}/write", frameEnd, b.endMs, b.label)) ++
        t.jobs.toSeq.filter(_._2.label.startsWith(b.label + "/")).flatMap { case (id, j) =>
          span(s"job $id", j.start, j.end, j.label) +:
            t.stageSpans.filter(_.job == id).map(st => span(s"stage ${st.id}", st.start, st.end, s"job $id"))
        }
    }
  }

  /** Per-layer figures of one traced pass. */
  private def layers(t: Tracer, bounds: Seq[Boundary], passWallS: Double, peakMat: Long,
                     cfg: Config, indexRoot: File): Map[String, Double] = t.synchronized {
    val aggs = t.aggs.values.toSeq
    def sum(f: t.Agg => Long): Double = aggs.map(f).sum.toDouble
    val runS = sum(_.runMs) / 1e3
    val cpuS = sum(_.cpuNs) / 1e9
    // task skew: max / median task time in the stage with the most task time
    val stageTasks = aggs.flatMap(_.taskMs.values)
    val skew = if (stageTasks.isEmpty) 0.0 else {
      val worst = stageTasks.maxBy(_.sum).sorted
      worst.last.toDouble / worst(worst.size / 2).max(1L)
    }
    val cores = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    val phase = (k: String) => t.plans.map(_.phases.getOrElse(k, 0.0)).sum
    val tableBytes = cfg.tablesRead
      .map(n => treeFiles(new File(s"${cfg.tables}/$n.parquet")).map(_.length).sum).sum
    val idx = indexDirs(indexRoot).filterNot(_.getName.contains(".tmp-")).flatMap(treeFiles)
    val serveRuns = cfg.phases.count(_._1 == "serve").max(1).toDouble
    val serve = bounds.filter(_.phase == "serve")
    Map(
      "sources.read_bytes" -> sum(_.inBytes), "sources.read_rows" -> sum(_.inRows),
      "sources.read_amplification" -> sum(_.inBytes) / tableBytes.max(1L),
      "operators.frame_s" -> bounds.map(_.frameS).sum,
      "operators.frame_self_s" -> bounds.map(b => (b.frameS - union(jobsOf(t, b, Some("frame"))) / 1e3).max(0.0)).sum,
      "operators.frame_jobs" -> t.jobs.values.count(_.label.endsWith("/frame")).toDouble,
      "operators.materialized_bytes" -> peakMat.toDouble,
      "plans.analysis_s" -> phase("analysis"), "plans.optimization_s" -> phase("optimization"),
      "plans.planning_s" -> phase("planning"),
      "plans.codegen_s" -> bounds.map(_.codegenNs).sum / 1e9,
      "plans.codegen_classes" -> bounds.map(_.codegenClasses).sum.toDouble,
      "plans.expr_nodes" -> t.plans.map(_.exprNodes).sum.toDouble,
      "plans.exchanges" -> t.plans.map(_.exchanges).sum.toDouble,
      "exec.jobs" -> t.jobs.size.toDouble, "exec.stages" -> sum(_.stages), "exec.tasks" -> sum(_.tasks),
      "exec.task_run_s" -> runS, "exec.task_cpu_s" -> cpuS, "exec.task_wait_s" -> (runS - cpuS),
      "exec.gc_s" -> bounds.map(_.gcMs).sum / 1e3, "exec.spill_bytes" -> sum(_.spill),
      "exec.shuffle_write_bytes" -> sum(_.shWrite), "exec.shuffle_read_bytes" -> sum(_.shRead),
      "exec.shuffle_fetch_wait_s" -> sum(_.fetchMs) / 1e3,
      "exec.busy_ratio" -> runS / (passWallS * cores).max(1e-9),
      "exec.task_skew" -> skew,
      "exec.outside_jobs_s" -> bounds.map(b => (b.wallS - union(jobsOf(t, b, None)) / 1e3).max(0.0)).sum,
      "exec.failed_tasks" -> sum(_.failedTasks),
      "index.build_s" -> bounds.filter(_.phase == "build").map(_.frameS).sum,
      "index.load_s" -> serve.map(_.frameS).sum / serveRuns,
      "index.search_s" -> serve.map(_.writeS).sum / serveRuns,
      "index.bytes" -> idx.map(_.length).sum.toDouble, "index.files" -> idx.size.toDouble)
  }
}
