package graft

import org.apache.spark.sql.SparkSession

/** Tuned SparkSession factory for the graft engine.
  *
  * Local-mode defaults mirror what we'd set cluster-side: AQE for
  * runtime re-planning (coalesce + skew-join splitting), shuffle
  * partition count sized to the test rig (32 cores) rather than the
  * 200 default, and a broadcast threshold generous enough that every
  * TPC-H-ish dimension table broadcast-joins.
  */
object GraftSession {

  /** The plan-shaping SQL confs — ONE table that [[builder]] applies
    * and [[PlanGate.session]] replays on a fresh session state, so the
    * plan gate always fingerprints the plans production sessions
    * build. `spark.sql.shuffle.partitions` is not here: the builder
    * sizes it to the rig and the gate pins it.
    */
  val sqlConfs: Seq[(String, String)] = Seq(
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    // Let parallelism-first coalescing keep partitions for
    // CPU-bound stages whose shuffle bytes are small (hashing,
    // HOF-heavy text ops); 1 MB default would serialize them.
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "64k",
    // Cached plans pin their shuffle output partitioning unless AQE
    // is allowed to re-plan it; at high shuffle-partition counts
    // that turns every .cache() inside an iterative loop into
    // partitions×iterations scheduler overhead (a partition sweep
    // measured cached-round components 6.2× SLOWER at 2048
    // partitions without this flag). Label propagation checkpoints
    // its rounds and no longer relies on it; the flag stays for
    // every other cached plan a session builds.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
    "spark.sql.autoBroadcastJoinThreshold" -> "64m",
    // Fact⋈fact path (neither side broadcastable at real scale):
    // inject a runtime Bloom filter built from the selective side
    // into the big side's scan, so most non-matching rows die
    // before the shuffle. No-op when a side broadcasts anyway.
    // RuntimeFilterSpec asserts the injection happens.
    "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
    "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.parquet.filterPushdown" -> "true")

  def builder(appName: String = "graft", master: String = s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]"): SparkSession.Builder = {
    val b = SparkSession.builder()
      .appName(appName)
      .master(master)
      // graft extensions: cosine_f64 SQL function + AsOfJoin strategy
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      // Shuffle WRITER: never take the bypass-merge path. Bypass
      // creates one file per (map task × reduce partition) — at the
      // session's 32×32 that is 1024 file creates/deletes per
      // exchange, and thread-dump sampling showed ~27% of busy
      // executor time inside FileOutputStream.open0 on this
      // container filesystem (iterative trainers pay it per Lloyd
      // iteration: dedup_semantic_hier_wide 5.7 → 3.1 s,
      // ann_ivf_trained_wide 3.0 → 1.7 s from this alone). The
      // serialized sort writer creates ONE file per map task — and
      // it is the path every >200-partition production shuffle
      // takes anyway (bypass fires only when partitions <
      // threshold), so this makes local mode exercise the
      // at-scale writer rather than tuning for the bench box.
      // Parameterised for clusters whose small broadcast-adjacent
      // shuffles genuinely prefer bypass on fast local disks.
      .config("spark.shuffle.sort.bypassMergeThreshold",
        sys.env.getOrElse("SPARK_GRAFT_BYPASS_MERGE_THRESHOLD", "1"))
      .config("spark.ui.enabled", "false")
    sqlConfs.foldLeft(b) { case (acc, (k, v)) => acc.config(k, v) }
  }

  def get(appName: String = "graft"): SparkSession = {
    val spark = builder(appName).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
