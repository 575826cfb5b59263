package graft

import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Partition-count invariance sweep: every piece of scale evidence so
  * far runs at spark.sql.shuffle.partitions = 32 — a real cluster
  * runs thousands. This sweep re-runs the heavy shuffle users over
  * the 10× replica corpus at 32 / 512 / 2048 shuffle partitions,
  * asserting the ANSWER (row count) is partition-invariant and
  * recording wall time, which smokes out per-partition overheads and
  * driver O(partitions) costs before a real cluster would.
  *
  * Expectations: results identical everywhere (the engine's operators
  * are all partitioning-agnostic — hash aggs, equi-joins, per-key
  * windows); wall time should degrade only mildly at 2048 (task
  * dispatch + 64 MB-min coalesced shuffle reads dominate at bench
  * SF). AQE's coalescePartitions keeps small stages from fragmenting,
  * which is exactly the mechanism a cluster relies on.
  *
  * Usage: `graft.PartitionSweep [replicas] [probe ...]` — defaults to
  * 10× and the full list below. Requires the ScaleProbe replicas to
  * exist (run ScaleProbe first). Dev tool — not driver contract.
  */
object PartitionSweep {
  def main(args: Array[String]): Unit = {
    val replicas = args.headOption.map(_.toInt).getOrElse(10)
    val only: Set[String] = args.drop(1).toSet
    val spark = GraftSession.get("partition-sweep")
    val base = s"/tmp/graft_scale${replicas}_v2"
    val src = Tables(spark, "/root/testdata/sf0.1")
    val events = spark.read.parquet(s"$base/events.parquet")
    val docs = spark.read.parquet(s"$base/documents.parquet")
    val docsHist = spark.read.parquet(s"$base/documents_hist.parquet")
    val lineitem = spark.read.parquet(s"$base/lineitem.parquet")
    val embeddings = spark.read.parquet(s"$base/embeddings.parquet")
    val fixedQ = Some(src.embeddings.filter(col("vec_id") % 100 === 0))

    val probes: Seq[(String, () => Long)] = Seq(
      "q1_pricing" -> (() => operators.Analytics.pricingSummary(lineitem).count()),
      "sessionize" -> (() => operators.Events.sessionize(events).count()),
      "minhash" -> (() => operators.Dedup.minhashLsh(docs).count()),
      "ngram" -> (() => operators.Dedup.ngramJaccard(docs).count()),
      "containment" -> (() => operators.Dedup.containment(docs).count()),
      "components" -> (() => operators.Dedup.components(docs).count()),
      "tfidf" -> (() => operators.TextOps.tfidf(docs).count()),
      "gap_quantiles" -> (() => operators.Events.gapQuantiles(events).count()),
      "session_quantiles" -> (() => operators.Events.sessionQuantiles(events).count()),
      "token_budget" -> (() =>
        operators.Curation.tokenBudget(docs, budget = 10000L * replicas).count()),
      "ann_pq" -> (() => operators.Similarity.annPq(embeddings, fixedQ,
        queriesAreCorpusDerived = Some(true)).count()),
      "mm_banded" -> (() => operators.Multimodal.payloadNearDupBanded(docsHist).count()),
      // hier SemDeDup at the 10× probe's cluster budget (k₁=k₂=7):
      // the within-cluster pair join shuffles on (cluster, bi, bj)
      "dedup_semantic_hier" -> (() =>
        operators.Similarity.dedupSemanticHier(embeddings, k1 = 7, k2 = 7).count()),
      // the grouped trainer's per-iteration means shuffle on
      // (coarse, fine, dim), then (coarse, fine) — different keys
      // per stage, so partition-count sensitivity would surface here
      // if anywhere (dedup_semantic_hier runs the same build)
      "dedup_sem_hier_grp" -> (() =>
        operators.Similarity.dedupSemanticHierGrouped(embeddings, k1 = 7, k2 = 7).count()),
      // flat trainer at the same 10× cluster budget: the (cluster,
      // dim) mean shuffle and the pair join's (cluster, bi, bj)
      // exchange must give the same answers at every partition count
      "dedup_semantic_wide" -> (() =>
        operators.Similarity.dedupSemantic(embeddings, k = 40).count()),
      // trained IVF at nlist = 128: past 64 centroids the training
      // corpus is spread before the argmin (a repartition exchange),
      // the trainer shuffles the (cluster, dim) partial sums and the
      // probe explodes each query's top-nprobe cells
      "ann_ivf_trained_wide" -> (() =>
        operators.Similarity.annIvfTrained(embeddings, fixedQ, nlist = 128, iters = 1,
          nprobe = 2).count()),
      // FAISS-sized PQ codebooks (round 15) through the fused
      // codebooks-as-data encode kernel (round 16): the joint-Lloyd
      // means shuffle on (j, cl, dim) and the ADC candidate window on
      // query_id — the wide trainer/encode's only shuffle users
      "ann_pq_wide" -> (() =>
        operators.Similarity.annPq(embeddings, fixedQ, codebookSize = 64,
          queriesAreCorpusDerived = Some(true)).count()),
      "feature_snapshot" -> (() => operators.FinAnalytics.featureSnapshot(events).count()),
      // quality-model fit+score through the round-16 FUSED z-frame
      // (quality/lang-id projections folded into the tokenized scan,
      // two corpus doc_id shuffles removed): the fusion moved work
      // between scan and shuffle, so prove the Gram fit's partial
      // aggregation and the scoring scan partition-invariant like
      // the rest. The invariant is the count of POSITIVE decisions,
      // not plain rows (a coefficient drift would keep the row count
      // while flipping predictions).
      "quality_model" -> (() =>
        operators.QualityModel.score(docs).filter(col("pred")).count()))

    val selected = probes.filter { case (n, _) => only.isEmpty || only.contains(n) }
    require(selected.nonEmpty, s"no probe matches $only")

    val partitionCounts = Seq(32, 512, 2048)
    val results = selected.map { case (name, f) =>
      // one untimed warmup at the base setting so the p=32 sample
      // isn't charged for codegen/broadcast warmup the later
      // settings inherit (first sweep had q1 reading 4.6x faster at
      // p=512 purely from this bias)
      spark.conf.set("spark.sql.shuffle.partitions", "32")
      f()
      val runs = partitionCounts.map { p =>
        spark.conf.set("spark.sql.shuffle.partitions", p.toString)
        val t0 = System.nanoTime()
        val rows = f()
        val t = (System.nanoTime() - t0) / 1e9
        println(f"$name%-18s p=$p%-5d $t%7.2f s  rows=$rows")
        (p, rows, t)
      }
      val counts = runs.map(_._2).distinct
      val ok = counts.size == 1
      if (!ok) println(s"!! $name NOT partition-invariant: " +
        runs.map(r => s"p=${r._1}→${r._2}").mkString(", "))
      (name, ok, runs)
    }
    println("== summary (time ratio vs p=32) ==")
    results.foreach { case (name, ok, runs) =>
      val t32 = runs.head._3
      val ratios = runs.map(r => f"p=${r._1}:${r._3 / t32}%4.2fx").mkString("  ")
      println(f"$name%-18s ${if (ok) "invariant" else "DIVERGED "} $ratios")
    }
    val bad = results.count(!_._2)
    println(s"== ${results.size - bad} invariant, $bad diverged ==")
    spark.stop()
    if (bad > 0) sys.exit(1)
  }
}
