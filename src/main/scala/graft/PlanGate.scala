package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Plan-regression gate: a frozen per-query physical-plan fingerprint
  * (shuffle / broadcast / join-strategy / sort counts) checked into
  * `src/test/resources/plan_gate.json` and diffed by PlanGateSpec on
  * every `sbt test`.
  *
  * Correctness is oracle-gated per round, but plan SHAPE can drift
  * silently — a stats change flipping a broadcast join to
  * sort-merge, a refactor adding an Exchange, an optimizer rule no
  * longer firing — and at 100 TB an extra shuffle IS the regression
  * even when the rows stay right (the round-7 masked-crash episode
  * is the same failure class: behavior drift invisible to green
  * tests). The fingerprint pins the count of each heavyweight node
  * in the PRE-EXECUTION plan (AQE's initial plan — deterministic
  * given the fixed sf0.001 inputs, unlike the runtime-replanned
  * final plan).
  *
  * The fingerprint must be taken under the SAME SQLConf the
  * production session runs (the bare test session would plan
  * different joins at a 10 MB broadcast threshold), so both the
  * regeneration main and the spec route their session through
  * [[PlanGate.session]].
  *
  * Regenerate after an INTENTIONAL plan change by running the
  * `graft.PlanGate` main (classes + spark jars on the classpath),
  * then review the JSON diff like source.
  */
object PlanGate {

  /** [[GraftSession.sqlConfs]] applied to a fresh session state, with
    * the shuffle partition count pinned to 32, so the gate sees
    * production plans from any base session.
    */
  def session(base: SparkSession): SparkSession = {
    val s = base.newSession()
    (GraftSession.sqlConfs :+ ("spark.sql.shuffle.partitions" -> "32"))
      .foreach { case (k, v) => s.conf.set(k, v) }
    s
  }

  /** Counted node classes. `shuffles` excludes BroadcastExchange
    * (counted separately — a broadcast is cheap where a shuffle
    * isn't); `sorts` matches the standalone Sort operator only, not
    * SortAggregate/SortMergeJoin.
    */
  val counters: Seq[(String, scala.util.matching.Regex)] = Seq(
    "shuffles" -> """Exchange (hash|range|Single|round)""".r,
    "broadcasts" -> """BroadcastExchange""".r,
    "broadcast_hash_joins" -> """BroadcastHashJoin""".r,
    "sort_merge_joins" -> """SortMergeJoin""".r,
    "shuffled_hash_joins" -> """ShuffledHashJoin""".r,
    "nested_loop_joins" -> """BroadcastNestedLoopJoin|CartesianProduct""".r,
    "sorts" -> """\bSort \[""".r)

  def fingerprint(df: DataFrame): Map[String, Int] = {
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.SimpleMode)
    counters.map { case (n, r) => n -> r.findAllIn(plan).size }.toMap
  }

  val defaultSf = "/root/testdata/sf0.001"
  val resourcePath = "src/test/resources/plan_gate.json"

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse(resourcePath)
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", defaultSf)
    val spark = session(GraftSession.get("plan-gate"))
    val sb = new StringBuilder("{\n")
    val names = SparkEntry.queries.keys.toSeq.sorted
    names.zipWithIndex.foreach { case (name, i) =>
      val fp = fingerprint(SparkEntry.queries(name)(spark, sf))
      val fields = counters.map { case (k, _) => s""""$k":${fp(k)}""" }.mkString(",")
      sb.append(s"""  "$name": {$fields}""")
      sb.append(if (i < names.size - 1) ",\n" else "\n")
    }
    sb.append("}\n")
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      sb.toString.getBytes("UTF-8"))
    println(s"wrote ${names.size} fingerprints to $out")
    spark.stop()
  }
}
