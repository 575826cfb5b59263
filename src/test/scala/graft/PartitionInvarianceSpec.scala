package graft

/** The answer of a registered query must not depend on the number of
  * shuffle partitions: every operator here is partitioning-agnostic
  * (hash aggregates, equi-joins, per-key windows, total-order
  * tiebreaks), so 2 and 64 partitions must give the same sorted rows.
  * The queries are the heavy shuffle users: hash aggregates, session
  * windows, the dedup candidate chains and label propagation, the
  * bucketed two-pass quantiles and prefix sums, the PQ trainer and
  * search, and the quality-model fit.
  *
  * The queries run in a session of their own with AQE's partition
  * coalescing off: at sf0.001 it would coalesce both settings to the
  * same few partitions, and the comparison would check nothing.
  */
class PartitionInvarianceSpec extends SparkSpec {
  private val sf = PlanGate.defaultSf

  private lazy val session = {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    s
  }

  private def answer(name: String, partitions: Int): Seq[String] = {
    session.conf.set("spark.sql.shuffle.partitions", partitions.toString)
    SparkEntry.queries(name)(session, sf).collect().map(_.toString).toSeq.sorted
  }

  test("the spec's session shuffles into as many partitions as it is set to") {
    import org.apache.spark.sql.functions.col
    for (p <- Seq(2, 64)) {
      session.conf.set("spark.sql.shuffle.partitions", p.toString)
      assert(session.range(1000).groupBy((col("id") % 7).as("k")).count().rdd.getNumPartitions === p)
    }
  }

  for (name <- Seq("q1_pricing_summary", "events_sessionize", "dedup_minhash_lsh",
      "dedup_ngram_jaccard", "dedup_containment", "dedup_components", "text_tfidf",
      "events_gap_quantiles", "events_session_quantiles", "curate_token_budget", "ann_pq",
      "ann_pq_wide", "mm_neardup_banded", "dedup_semantic_hier", "fin_feature_snapshot",
      "curate_quality_model"))
    test(s"$name gives the same answer at 2 and 64 shuffle partitions") {
      val two = answer(name, 2)
      assert(two.nonEmpty, s"$name: an empty answer shows nothing")
      assert(answer(name, 64) === two)
    }
}
