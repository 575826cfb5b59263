package graft

import graft.operators.Dedup
import graft.sources.Tables

/** Plan gate for the set-based Jaccard verify (Dedup.verifyJaccard
  * via minhashLsh): the candidate verification must stay an EQUI-join
  * pipeline — hash or sort-merge, chosen by size statistics — and can
  * never silently degrade to a nested-loop/cartesian shape, which
  * would be all-pairs over the corpus. At bench SF the checkpointed
  * per-document (doc_id, sh, sig) frame is stats-small and rides the
  * build side of BroadcastHashJoins; at 100 TB the stats push the same
  * joins to shuffled equi-joins — both linear. These assertions
  * protect the verify from a future stats/AQE drift re-planning it as
  * a non-equi join, and the MinHash chain from growing back its
  * corpus-wide (doc_id, shingle) frame.
  */
class DedupPlanSpec extends SparkSpec
    with org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {

  private lazy val verified = {
    val df = Dedup.minhashLsh(Tables(spark, "/root/testdata/sf0.01").documents)
    df.collect() // force AQE to settle on the final plan
    df
  }
  private lazy val verifiedPlan: String = verified.queryExecution.executedPlan.toString

  test("verify stage never plans a nested-loop or cartesian join") {
    assert(!verifiedPlan.contains("BroadcastNestedLoopJoin")
      && !verifiedPlan.contains("CartesianProduct"),
      s"non-equi join in the verify plan:\n$verifiedPlan")
  }

  test("containment's one-sided probe and verify plan only equi-joins") {
    val df = Dedup.containment(Tables(spark, "/root/testdata/sf0.01").documents)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin")
      && !plan.contains("CartesianProduct"),
      s"non-equi join in the containment plan:\n$plan")
  }

  test("pair scoring evaluates array_intersect once per candidate pair") {
    // The Jaccard and containment filters read `inter` from the
    // scoring generator's output, so the optimizer cannot push them
    // below it and inline the intersection into each use.
    val containment = Dedup.containment(Tables(spark, PlanGate.defaultSf).documents)
    Seq("minhashLsh" -> verified, "containment" -> containment).foreach { case (name, df) =>
      val plan = df.queryExecution.optimizedPlan.toString
      assert("array_intersect".r.findAllIn(plan).size === 1,
        s"$name evaluates array_intersect more than once per pair:\n$plan")
    }
  }

  test("the MinHash candidate and verify plan reads only the per-document checkpoint") {
    // Both band self-join sides and both verify joins read the one
    // (doc_id, sh, sig) checkpoint: no corpus re-scan, no second
    // materialized frame.
    val rdds = verified.queryExecution.analyzed.collectLeaves().map {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        assert(l.output.map(_.name) === Seq("doc_id", "sh", "sig"))
        l.rdd.id
      case other => fail(s"unexpected source $other")
    }
    assert(rdds.distinct.size === 1, s"expected one checkpoint source, got $rdds")
    val scanned = collect(verified.queryExecution.executedPlan) {
      case r: org.apache.spark.sql.execution.RDDScanExec => r.rdd.id
    }
    assert(scanned.nonEmpty && scanned.toSet === rdds.toSet,
      s"expected every scan to read the checkpoint in:\n$verifiedPlan")
    assert(!verifiedPlan.contains("Scan parquet"),
      s"corpus re-scanned in the MinHash candidate plan:\n$verifiedPlan")
  }

  test("the MinHash candidate and verify plan explodes no shingle array") {
    // The verify scores each pair on its two shingle sets; the only
    // Generate left is the 16-band explode over `sig` (once per band
    // self-join side).
    assert(!"""explode\(sh#""".r.findFirstIn(verifiedPlan).isDefined,
      s"shingle explode in the MinHash candidate plan:\n$verifiedPlan")
  }

  test("the banded self-join reads checkpointed signatures, not a replayed min-aggregation") {
    // The signatures are computed once, by the MinHash kernel inside
    // the per-document checkpoint: the plan over it neither aggregates
    // xxhash64 nor re-runs the kernel.
    assert(!verifiedPlan.contains("min(xxhash64") && !verifiedPlan.contains("minhash("),
      s"signature aggregation replayed in the candidate plan:\n$verifiedPlan")
  }

  test("simhash's candidate self-join never re-tokenizes the corpus") {
    // sig is one checkpointed row per doc; both pigeonhole join sides
    // must read it back — zero tokenize/shingle/md5 work in the final
    // plan (round 6: two complete shingle→hash→bit-sum chains, one
    // under a BroadcastExchange where ReuseExchange cannot fire).
    val df = Dedup.simhash(Tables(spark, "/root/testdata/sf0.01").documents)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("split(") && !plan.contains("md5("),
      s"tokenize/hash chain replayed in the simhash candidate plan:\n$plan")
    assert(!plan.contains("Scan parquet"),
      s"corpus re-scanned in the simhash candidate plan:\n$plan")
  }

  test("ngramJaccard's self-join reads the checkpointed prefix, not a replayed ranking window") {
    // prefix is checkpointed after the frequency join + row_number
    // ranking; the candidate self-join and verify stages must contain
    // no window operator at all (round 6: the ranking window ran on
    // both join sides — 16 block reads).
    val df = Dedup.ngramJaccard(Tables(spark, "/root/testdata/sf0.01").documents)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"ranking window replayed in the ngramJaccard candidate plan:\n$plan")
    assert(!plan.contains("split("),
      s"tokenization replayed in the ngramJaccard candidate plan:\n$plan")
  }

  test("with broadcasting disabled the verify degrades to shuffled EQUI-joins — the 100 TB shape") {
    // The inverse pin of the bench-SF broadcast assertions above:
    // Dedup.scala's verify commentary claims that past the broadcast
    // threshold the SAME plan degrades to shuffled equi-joins —
    // linear, never a nested-loop. Prove it by forcing the
    // over-threshold regime (threshold = -1 disables broadcast
    // entirely, static and AQE-runtime alike) instead of waiting for
    // corpus stats to cross it.
    val thresholdKey = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(thresholdKey)
    spark.conf.set(thresholdKey, "-1")
    try {
      val df = Dedup.minhashLsh(Tables(spark, "/root/testdata/sf0.01").documents)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin")
        && !plan.contains("CartesianProduct"),
        s"non-equi join under disabled broadcast:\n$plan")
      assert(!plan.contains("BroadcastHashJoin"),
        s"broadcast join planned with the threshold disabled:\n$plan")
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        s"expected shuffled equi-joins in the degraded plan:\n$plan")
    } finally spark.conf.set(thresholdKey, prev)
  }
}
