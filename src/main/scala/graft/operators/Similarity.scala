package graft.operators

import graft.functions.Exact.{halfUpDiv, ratio6}
import graft.functions.VectorFunctions._
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.plans.HonestCheckpoint._
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow

/** Embedding similarity — near-dup pairs and nearest-neighbor search
  * over an `array<float>` column (SURVEY §2 #25-27).
  *
  * Scale design: the query side of every search broadcasts (queries
  * ≪ corpus); the corpus is scanned once, map-side, and only top-k
  * candidates reach a shuffle.
  *
  * Every operator here is TWO-PHASE — the ADC contract of Jégou et
  * al. ("Product quantization for nearest neighbor search", TPAMI
  * 2011): a cheap distance cuts the candidates, and only the
  * survivors pay the exact decimal cosine, so every emitted score is
  * oracle-grade however approximate the cut that chose it.
  *  - Top-k search over a quantized index ([[twoPhase]]): a kind
  *    supplies its query projection and one candidate distance (lower
  *    is nearer); the top `rerank` per query by (distance, vec_id)
  *    survive. The flat scans ([[annBruteForce]], [[annIvf]],
  *    [[annLsh]]) cut by value at the k-th codegen double cosine
  *    instead ([[keepFastSurvivors]]).
  *  - Exact re-rank ([[exactTopK]]): the survivors' exact cosine on
  *    the original vectors, top k by (cosine desc, vec_id).
  *  - Threshold operators (near-dup pairs, range search, ingestion
  *    probes) run the same split as a value test ([[verified]]).
  * Self-matches are excluded by [[notSelf]]'s policy.
  */
object Similarity {

  /** Default ANN/near-dup query set when the caller does not supply
    * one: every 100th vector. Production callers pass an explicit
    * (small) query DataFrame so the broadcast side is STRUCTURALLY
    * bounded — `vec_id % 100` of a growing corpus is 1% of corpus
    * bytes, which stops being broadcastable long before 100 TB.
    */
  private def defaultQueries(embeddings: DataFrame): DataFrame =
    embeddings.filter(col("vec_id") % 100 === 0)

  /** The query frame an ann* entry searches and whether it is
    * corpus-derived ([[notSelf]]): the caller's frame or, when it
    * passes none, [[defaultQueries]]; corpus-derived as the caller
    * says, else iff the default is used.
    */
  private def querySet(embeddings: DataFrame, queries: Option[DataFrame],
                       corpusDerived: Option[Boolean] = None): (DataFrame, Boolean) =
    (queries.getOrElse(defaultQueries(embeddings)), corpusDerived.getOrElse(queries.isEmpty))

  /** The query side of a flat search as one projection:
    * (query_id, qe, payload…), the payload being the kind's
    * query-side columns named by their aliases.
    */
  private def flatQueries(queries: DataFrame, payload: Column*): DataFrame =
    queries.select(Seq(col("vec_id").as("query_id"), col("embedding").as("qe")) ++ payload: _*)

  /** The exact decimal cosine of two embedding columns — the score
    * every operator emits and every oracle replays.
    */
  private def exactCosine(a: Column, b: Column): Column =
    cosineExact(decDot(a, b), decNorm2(a), decNorm2(b))

  /** Threshold verify: the rows of `pairs` whose embeddings `a` and
    * `b` have exact cosine ≥ `threshold`, with it as `cosine`. A
    * codegen double cosine first drops everything below
    * threshold − 1e-3 (a margin ≫ the ~1e-7 double-vs-exact gap, see
    * [[keepFastSurvivors]]), so only near-threshold pairs pay the
    * exact decimal math.
    */
  private def verified(pairs: DataFrame, a: String, b: String, threshold: Double): DataFrame =
    pairs.filter(cosineFast(col(a), col(b)) >= threshold - 1e-3)
      .withColumn("cosine", exactCosine(col(a), col(b)))
      .filter(col("cosine") >= threshold)

  /** Exact re-rank: each query's top `k` candidates by (exact cosine
    * desc, vec_id) as (query_id, [label,] neighbor_id, rank, cosine),
    * sorted by (query_id, rank). `cands` carries query_id, qe, vec_id
    * and embedding, plus the neighbor's cell `label` in an IVF search,
    * which then rides to the output.
    */
  private def exactTopK(cands: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("vec_id"))
    val label = if (cands.columns.contains("label")) Seq(col("label")) else Nil
    cands.withColumn("cosine", exactCosine(col("qe"), col("embedding")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id") +: label :+ col("vec_id").as("neighbor_id") :+ col("rank") :+
        col("cosine"): _*)
      .orderBy(col("query_id"), col("rank"))
  }

  /** The two-phase search of every quantized index kind. `payload` is
    * the kind's scanned table (vec_id, its codes or signature[, label]),
    * `qs` its query projection (query_id, qe[, qlabel], its query-side
    * columns) and `dist` its candidate distance over the two, lower
    * being nearer. Each query keeps its top `rerank` payload rows by
    * (dist, vec_id) — a total order, so the candidate set is
    * deterministic, and Spark's WindowGroupLimit keeps the cut
    * map-side partial — and [[exactTopK]] re-ranks them on `corpus`.
    *
    * The re-rank's cost: the survivors (≤ rerank × queries rows) join
    * the whole raw (vec_id, embedding) corpus ([[vectors]]). Under
    * graft's 64 MB broadcast threshold the planner broadcasts that
    * corpus once per search — the final plan of a warm
    * `ann_ivfpq_served` broadcasts the whole `embeddings` table —
    * and past it the join shuffles the whole corpus to re-rank a few
    * hundred rows. Only the candidate scan is confined to the kind's
    * codes or signatures.
    *
    * An IVF kind's query frame carries `qlabel`, one row per probed
    * cell ([[probedQueries]]): a payload row then meets only the
    * queries probing its `label`, one window cuts across all probed
    * cells at once (a vector lives in exactly one cell, so no pair
    * duplicates), and the label rides to the output. `excludeSelf`
    * only for corpus-derived query frames ([[notSelf]]).
    */
  private def twoPhase(payload: DataFrame, qs: DataFrame, dist: Column, corpus: DataFrame,
                       k: Int, rerank: Int, excludeSelf: Boolean): DataFrame = {
    val ivf = qs.columns.contains("qlabel")
    val cell = if (ivf) col("label") === col("qlabel") && notSelf(excludeSelf)
               else notSelf(excludeSelf)
    val w = Window.partitionBy(col("query_id")).orderBy(col("dist"), col("vec_id"))
    val cands = payload.join(broadcast(qs), cell)
      .withColumn("dist", dist)
      .withColumn("rc", row_number().over(w))
      .filter(col("rc") <= rerank)
      .select((Seq("query_id", "qe", "vec_id") ++ (if (ivf) Seq("label") else Nil)).map(col): _*)
    exactTopK(cands.join(vectors(corpus), "vec_id"), k)
  }

  /** Value-based survivor cut for the two-phase (fast double prune →
    * exact decimal re-rank) top-k scans: keep every row whose fast
    * cosine ties the k-th fast value within 1e-6. A fixed rank margin
    * (k+c) silently drops true neighbors when > c corpus vectors sit
    * within double-vs-exact error of the k-th score (duplicate/near-
    * identical vectors); the value cut is immune. Margin budget: the
    * double summation itself is exact to ~1e-12, but the EXACT path
    * first quantizes each component through dec8 (up to 5e-9 absolute
    * per component), so across 64-dim dot/norm sums the double-vs-
    * exact cosine gap is really ~1e-7..4e-7 for the ~unit-norm
    * vectors admitted here — still below the 1e-6 cut, but by ~2.5×,
    * not the ~1000× a naive 1e-9 estimate suggests. If small-norm
    * vectors are ever admitted, the dec8 perturbation amplifies by
    * 1/‖v‖ and the margin must widen accordingly. NULL kth_fast
    * (fewer than k candidates) keeps everything. `df` carries
    * query_id, qe, vec_id and embedding.
    */
  private def keepFastSurvivors(df: DataFrame, k: Int): DataFrame = {
    val wFast = Window.partitionBy(col("query_id")).orderBy(col("fast").desc, col("vec_id"))
    val wAll = Window.partitionBy(col("query_id"))
    df.withColumn("fast", cosineFast(col("qe"), col("embedding")))
      .withColumn("rf", row_number().over(wFast))
      .withColumn("kth_fast", max(when(col("rf") === k, col("fast"))).over(wAll))
      .filter(col("kth_fast").isNull || col("fast") >= col("kth_fast") - 1e-6)
      .drop("rf", "kth_fast")
  }

  /** Near-duplicate pairs with exact-cosine ≥ threshold — the EXACT
    * pair join, distributed as a block-pair triangle join.
    *
    * Every vector gets a hash block id in [0, blocks); side A carries
    * each vector to every block pair (own, j ≥ own), side B to every
    * (i ≤ own, own); the equi-join on (bi, bj) then meets each
    * unordered pair in exactly one of the blocks(blocks+1)/2 shuffle
    * groups (the `a < b` residual halves the diagonal). The plan is a
    * plain shuffled equi-join — NO BroadcastNestedLoopJoin, no
    * cartesian node — so the Θ(n²) pair evaluations spread evenly
    * over ~blocks²/2 independent tasks instead of serializing behind
    * a full-corpus broadcast. Replication cost is (blocks+1)× the
    * corpus through one shuffle.
    *
    * Why not sketch-candidate generation (the sub-quadratic route):
    * at this threshold it cannot reproduce the exact result. The
    * corpus' true pairs sit at cosine 0.45-0.51 (measured) while
    * random pairs center on 0; a hyperplane agrees with a 0.45-pair
    * with p = 1 − acos(0.45)/π ≈ 0.65 vs 0.5 for noise — far too
    * small a gap for any band scheme to reach ~1e-8 miss probability
    * without admitting nearly all pairs as candidates. An exact
    * threshold join on dense vectors is inherently Θ(n²) work; the
    * sub-quadratic *approximate* companions are the sketch operators
    * (#22/#23) and [[annLsh]]. Per-pair cost stays cheap: codegen
    * double-cosine prefilter (1e-3 margin ≫ the ~1e-12 double-vs-
    * exact error), exact decimal verification only on survivors.
    *
    * Sizing `blocks` (the one knob a scaled-up caller must get
    * right, or discover by OOM): a join group holds ~n/blocks rows
    * of each side in executor memory, so blocks must GROW with the
    * corpus — `blocks = 0` (the default) auto-derives
    * `max(16, ceil(n / 200k))` from one cheap id-column count,
    * capping a group's side at ~200k vectors (~60 MB of 64-dim
    * floats) regardless of n. Under that rule the replicated
    * shuffle carries n²/200k rows total — each shuffled row
    * amortizes ~100k pair evaluations, so the shuffle never
    * dominates the (inherent) Θ(n²) compute, and group count
    * blocks²/2 grows fast enough to feed any executor fleet.
    * Results are invariant to `blocks`; it is purely physical
    * layout. Auto-sizing makes CONSTRUCTION EAGER: the count() runs
    * a one-column Spark job before the returned frame exists — a
    * deliberate trade (it is what makes the 100×-user's OOM knob
    * disappear), negligible next to the Θ(n²) evaluation it sizes,
    * and avoided entirely by passing `blocks` explicitly (catalog
    * stats row counts are not reliably populated without CBO, so a
    * lazy stats-based variant would silently fall back anyway).
    */
  def embeddingNearDup(embeddings: DataFrame, threshold: Double = 0.45,
                       blocks: Int = 0): DataFrame = {
    val b =
      if (blocks > 0) blocks
      else {
        val n = embeddings.select(col("vec_id")).count()
        math.max(16L, (n + 199999L) / 200000L).toInt
      }
    blockPairs(vectors(embeddings), b, threshold)
  }

  /** The verified pairs of a (vec_id, embedding[, keys…]) frame within
    * equal `keys` (none: the whole frame), spread over the block-pair
    * triangle of `b` hash blocks as (a, b[, keys…], cosine) with
    * a < b, sorted by (a, b).
    */
  private def blockPairs(vecs: DataFrame, b: Int, threshold: Double,
                         keys: String*): DataFrame = {
    val e = vecs.withColumn("blk", pmod(xxhash64(col("vec_id")), lit(b)).cast("int"))
    // Roles are BLOCK-ordered (side A = the lower block, side B = the
    // higher): group (p, q), p < q, meets each cross-block pair once;
    // only the diagonal (p = p) needs the id-order filter. Output ids
    // are then normalized with least/greatest (cosine is symmetric).
    val sideA = e.select(keys.map(col) ++ Seq(col("vec_id").as("ia"), col("embedding").as("ea"),
        col("blk").as("bi")): _*)
      .withColumn("bj", explode(sequence(col("bi"), lit(b - 1))))
    val sideB = e.select(keys.map(col) ++ Seq(col("vec_id").as("ib"), col("embedding").as("eb"),
        col("blk").as("bj")): _*)
      .withColumn("bi", explode(sequence(lit(0), col("bj"))))
    verified(sideA.join(sideB, keys ++ Seq("bi", "bj"))
        .filter(col("bi") =!= col("bj") || col("ia") < col("ib")), "ea", "eb", threshold)
      .select(Seq(least(col("ia"), col("ib")).as("a"), greatest(col("ia"), col("ib")).as("b")) ++
        keys.map(col) :+ col("cosine"): _*)
      .orderBy(col("a"), col("b"))
  }

  /** SemDeDup-style cluster-bounded semantic near-dup — the
    * SUB-QUADRATIC companion to [[embeddingNearDup]] (which is the
    * exact Θ(n²) baseline, documented as such). Following the public
    * SemDeDup recipe (Abbas et al. 2023, arXiv:2303.09540): k-means
    * the embedding space, then compare pairs ONLY within a cluster —
    * semantic duplicates are near each other, so they co-cluster,
    * and the pair space drops from n²/2 to Σᵢ nᵢ²/2 ≈ n²/(2k). At
    * 100 TB the caller grows k (nlist-style) with the corpus, making
    * per-cluster work constant: k = n/200k keeps every cluster's
    * pair block executor-sized, and total work O(n · 200k) — linear
    * in n for a fixed cluster budget, vs the baseline's quadratic.
    *
    * RECALL is the trade (like [[annLsh]]): a true pair straddling a
    * Voronoi boundary is missed. Every RETURNED pair is exact-verified
    * (same decimal cosine as the baseline), so precision is 1.0 by
    * construction and the result is always a subset of
    * [[embeddingNearDup]] at the same threshold — SimilaritySpec pins
    * both properties plus the measured recall floor on testdata.
    *
    * Deterministic end-to-end: the trainer is [[kmeans]]' exact
    * integer-units Lloyd (md5-seeded), so assignment — and therefore
    * the candidate pair set — is bit-identical on any engine, and the
    * whole operator carries a FULL DuckDB oracle (the unrolled Lloyd
    * CTE chain feeding a within-cluster exact-cosine self-join).
    *
    * Physical shape: the assignment scan materializes ONCE
    * (honestCheckpoint — both sides of the self-join read it, and the
    * join then plans on real sizes); within a cluster the pair space
    * is spread over block-pair triangle groups exactly like
    * [[embeddingNearDup]] (key = (cluster, bi, bj)), sized by the
    * LARGEST cluster (k-row aggregate — model-parameter-sized), so a
    * skewed cluster cannot concentrate its nᵢ²/2 pairs in one task.
    */
  def dedupSemantic(embeddings: DataFrame, k: Int = 8, iters: Int = 3,
                    threshold: Double = 0.45, blocks: Int = 0): DataFrame =
    withinClusterPairs(semanticIndexBuild(embeddings, k, iters).assigned,
      threshold, blocks)

  /** The frozen model half of the SemDeDup family: trained centroids
    * (driver-side model parameters) + the corpus assignment frame,
    * materialized ONCE (honestCheckpoint) — [[dedupSemantic]]'s
    * build step, and the index [[semanticProbe]] serves
    * ingestion-time queries from. Centroids travel as data through
    * the fused [[graft.plans.ArgminL2I64]] kernel, so plan size is
    * O(1) in k and k can track the corpus on one level.
    */
  final case class SemanticIndex private[Similarity] (
      centroids: Seq[Array[Long]], assigned: DataFrame)

  def semanticIndexBuild(embeddings: DataFrame, k: Int = 8,
                         iters: Int = 3): SemanticIndex = {
    val (centroids, a) = trainAssign(embeddings, k, iters)
    val assigned = a
      .select(col("vec_id"), col("embedding"), col("cluster"))
      .honestCheckpoint()
    a.releaseSources() // the corpus checkpoint, superseded by assigned
    SemanticIndex(centroids, assigned)
  }

  /** Centroid count past which a corpus-sized frame is spread over
    * the session's parallelism before its per-row k-fold argmin: a
    * compact parquet table (one 128 MB split holds ~500k vectors)
    * would otherwise put the whole k-times-amplified scan on ONE core
    * (measured as a single-threaded crawl at 100×/k=400). At small k
    * the repartition exchange costs more than it saves (the IVF-PQ
    * build at k = 8 ran faster unspread), so k alone decides.
    */
  private val spreadAboveK = 64

  /** `df` repartitioned to the session's parallelism when `k` is past
    * [[spreadAboveK]], else `df` unchanged. Probe BATCHES skip this
    * (they are broadcast-bound, not fan-bound).
    */
  private def spreadForK(df: DataFrame, k: Int): DataFrame =
    if (k > spreadAboveK) Spread(df) else df

  /** (vec_id, embedding, u): a vector frame with its quantized units. */
  private def withUnits(df: DataFrame): DataFrame =
    df.select(col("vec_id"), col("embedding"), units(col("embedding")).as("u"))

  /** The k-means TRAINING CORPUS as ONE materialized frame:
    * (vec_id, embedding, u), quantized once, spread once when k calls
    * for it ([[spreadForK]]), then localCheckpointed — so the Lloyd
    * init, every iteration's [[meanStep]] fold, and the final corpus
    * assignment read the materialized blocks instead of each
    * re-running the source scan (and the spread exchange): the guide
    * §2.4/§5 recompute-vs-materialize trade at its most lopsided (the
    * frame is reused iters+2 times per build). `embedding` rides along
    * because the k-means family returns it with each assignment; the
    * IVF-PQ build, which does not, checkpoints (vec_id, u, un) instead
    * ([[ivfPqIndexBuild]]). Eager checkpoint cost: one corpus pass +
    * (vec_id, embedding, u) blocks; blocks are ContextCleaner-freed
    * when the frame goes out of scope.
    */
  private def corpusFrame(embeddings: DataFrame, k: Int): DataFrame =
    withUnits(spreadForK(vectors(embeddings), k))
      .honestCheckpoint()

  /** Train + corpus assignment sharing ONE [[corpusFrame]]
    * checkpoint: returns (centroids, assigned) where `assigned` is
    * [[nearestCells]]' output (vec_id, embedding, u, cluster, du), a
    * pure per-row map over the shared checkpoint.
    */
  private def trainAssign(embeddings: DataFrame, k: Int,
                          iters: Int): (Seq[Array[Long]], DataFrame) = {
    val vecs = corpusFrame(embeddings, k)
    val cents = lloyd(vecs, "u", unitsOf(initRows(vecs, k, "u"), 0), iters)
    (cents, nearestCells(vecs, "u", cents))
  }

  /** The first `n` rows of `vecs` in (md5(vec_id), vec_id) order, as
    * the `units` columns — the seeded, reproducible init of every
    * trainer. One collect.
    */
  private def initRows(vecs: DataFrame, n: Int, units: String*): Array[Row] =
    vecs.orderBy(md5(col("vec_id").cast("string")), col("vec_id")).limit(n)
      .select(units.map(col): _*)
      .collect()

  /** Column `i` of init rows as centroids. */
  private def unitsOf(rows: Array[Row], i: Int): Seq[Array[Long]] =
    rows.toSeq.map(_.getSeq[Long](i).toArray)

  /** Lloyd's training loop over a materialized (vec_id, `units`)
    * frame — the one k-means trainer: raw-vector units `u` for the
    * IVF/SemDeDup quantizers, normalized units `un` for the residual
    * IVF-PQ cells. `init` is the model before the first step (the
    * caller's [[initRows]]); each iteration is one [[meanStep]] job
    * (lowest-cluster tiebreak, an empty cluster keeps its previous
    * centroid). Returns the trained centroids in 1e-8 units (k×dim
    * model parameters), none for an empty init.
    */
  private[graft] def lloyd(vecs: DataFrame, units: String, init: Seq[Array[Long]],
                           iters: Int): Seq[Array[Long]] = {
    if (init.isEmpty) return init
    val rows = vecs.select(col(units)).queryExecution.toRdd
    var cells = Seq(init)
    for (_ <- 1 to iters) cells = meanStep(rows, cells, keyed = false)
    cells.head
  }

  /** One Lloyd step as ONE job: a fold over `rows` (a materialized
    * frame's `toRdd`, planned once per train, so a step plans nothing)
    * that assigns every row with [[graft.plans.ArgminL2.scan]] — the
    * loop the assign and encode kernels run — and returns the model
    * moved to the integer half-up mean of its members. An empty
    * centroid keeps its place.
    *
    * The model is `cells` of centroids of one dim. Row ordinal 0 is the
    * units array. With `keyed`, ordinal 1 is the row's cell (the hier
    * fine level: a cell outside the model or without centroids skips
    * the row, as the per-cell kernel gives null); otherwise slice j of
    * the units scans cell j (one cell for flat k-means, m codebooks for
    * PQ). A null units row is skipped, as the kernels give null; a null
    * element or a wrong length throws.
    *
    * Each partition allocates its sums and counts inside the task (no
    * model-sized zero value ships with it) and fills them in exact
    * `long`s: `addExact` fails loudly where ANSI `sum` did, and the
    * partials merge with `treeAggregate`. Long sums do not depend on
    * order, so the model is bit-identical on any partitioning. Rows
    * from `toRdd` are reused objects: every value is read at once and
    * no row is kept.
    */
  private def meanStep(rows: RDD[InternalRow], cells: Seq[Seq[Array[Long]]],
                       keyed: Boolean): Seq[Seq[Array[Long]]] = {
    val all = cells.flatten
    val dim = all.head.length
    val cents = Array.concat(all: _*)
    val starts = cells.scanLeft(0)(_ + _.size).toArray
    val numCells = cells.size
    val parts = if (keyed) 1 else numCells
    val total = all.size
    val (sums, counts) = rows.mapPartitions { it =>
      val sums = new Array[Long](total * dim)
      val counts = new Array[Long](total)
      val bestD = new Array[Long](1)
      val bestC = new Array[Long](1)
      while (it.hasNext) {
        val row = it.next()
        if (!row.isNullAt(0) && !(keyed && row.isNullAt(1))) {
          val u = graft.plans.IntegerUnits.longs(row.getArray(0), "lloyd")
          graft.plans.IntegerUnits.requireSameLength(u.length, parts * dim, "lloyd")
          val first = if (keyed) row.getLong(1) else 0L
          var j = 0
          while (j < parts) {
            val cell = first + j
            if (cell >= 0 && cell < numCells && starts(cell.toInt) < starts(cell.toInt + 1)) {
              val lo = starts(cell.toInt)
              graft.plans.ArgminL2.scan(u, j * dim, cents, lo, starts(cell.toInt + 1), dim,
                bestD, bestC)
              val g = lo + bestC(0).toInt
              counts(g) += 1
              var d = 0
              while (d < dim) {
                sums(g * dim + d) = Math.addExact(sums(g * dim + d), u(j * dim + d))
                d += 1
              }
            }
            j += 1
          }
        }
      }
      Iterator.single((sums, counts))
    }.treeAggregate((null: Array[Long], null: Array[Long]))(addPartial, addPartial)
    if (sums == null) return cells
    def mean(g: Int): Array[Long] =
      if (counts(g) == 0) all(g)
      else Array.tabulate(dim)(d => halfUpMean(sums(g * dim + d), counts(g)))
    cells.indices.map(c => (starts(c) until starts(c + 1)).map(mean))
  }

  /** Merge two partial (sums, counts) pairs in place; null is empty. */
  private def addPartial(a: (Array[Long], Array[Long]),
                         b: (Array[Long], Array[Long])): (Array[Long], Array[Long]) =
    if (a._1 == null) b
    else if (b._1 == null) a
    else {
      for (i <- a._1.indices) a._1(i) = Math.addExact(a._1(i), b._1(i))
      for (i <- a._2.indices) a._2(i) += b._2(i)
      a
    }

  /** The integer half-up mean s / n, sign split so the division only
    * ever sees nonnegative operands: `(2s + n) DIV 2n`, negated for
    * s < 0. Exact arithmetic, so an overflow throws.
    */
  private def halfUpMean(s: Long, n: Long): Long = {
    val twoN = Math.multiplyExact(2L, n)
    if (s < 0) -(Math.addExact(Math.multiplyExact(2L, Math.negateExact(s)), n) / twoN)
    else Math.addExact(Math.multiplyExact(2L, s), n) / twoN
  }

  /** The one nearest-centroid assign/probe: `df`'s columns plus
    * `cluster` and `du` (squared distance in 1e-16 units) for each of
    * the row's `nprobe` nearest centroids by (du, cluster) — one row
    * per probed cell, so nprobe = 1 is the plain argmin with the
    * lowest-cluster tiebreak. One fused [[graft.plans.ArgminL2I64]]
    * call per row over the `units` column: no shuffle, no row fan,
    * plan size O(1) in k. nprobe is the IVF recall knob —
    * imbalanced cells put true neighbors just across a Voronoi
    * boundary, and probing the next-nearest cells buys recall back at
    * candidate cost nprobe/nlist of the corpus. No centroids (an empty
    * training corpus) gives an empty frame of the same shape.
    */
  private def nearestCells(df: DataFrame, units: String, centroids: Seq[Array[Long]],
                           nprobe: Int = 1): DataFrame = {
    val keep = df.columns.toSeq.map(col)
    if (centroids.isEmpty)
      return df.select(keep :+ lit(null).cast("long").as("cluster") :+
        lit(null).cast("long").as("du"): _*).limit(0)
    require(nprobe >= 1 && nprobe <= centroids.size,
      s"nprobe must be in [1, ${centroids.size}], got $nprobe")
    df.select(keep :+ explode(graft.plans.ArgminL2.argminUnits(col(units), centroids, nprobe))
        .as("p"): _*)
      .select(keep :+ col("p.cluster").as("cluster") :+ col("p.du").as("du"): _*)
  }

  /** The query side of an IVF search as one projection: (query_id,
    * qe, qlabel, payload…), one row per (query, probed cell) for each
    * query's `nprobe` nearest cells ([[nearestCells]] over its raw
    * units). The payload columns — the search's per-query table or
    * signature, named by their aliases — are computed from the same
    * row before the probe rows fan out, so each runs once per query
    * and the batch is scanned once (no query_id self-join).
    */
  private def probedQueries(queries: DataFrame, centroids: Seq[Array[Long]], nprobe: Int,
                            payload: Column*): DataFrame = {
    val qs = queries.select(Seq(col("vec_id"), col("embedding"),
      units(col("embedding")).as("u")) ++ payload: _*)
    val names = qs.columns.drop(3).toSeq
    nearestCells(qs, "u", centroids, nprobe)
      .select(Seq(col("vec_id").as("query_id"), col("embedding").as("qe"),
        col("cluster").as("qlabel")) ++ names.map(col): _*)
  }

  /** FAISS-style `add()` for the frozen semantic index — corpus
    * growth WITHOUT retraining: NEW vectors are assigned under the
    * FROZEN centroids (one scan, no Lloyd) and committed as the next
    * delta ([[FrozenIndex.append]]). Append cost ∝ the delta, never the
    * corpus: the existing partition files are byte-untouched.
    */
  def semanticIndexAppend(spark: SparkSession, dir: String, newVectors: DataFrame): Long =
    FrozenIndex.append(spark, SemanticKind, dir, newVectors, None)(semanticAssign(_, newVectors))

  /** Streaming `add()` for the semantic index — the exactly-once
    * micro-batch append [[graft.streaming.SimilarityStream.semanticNearDupIngest]]
    * calls from `foreachBatch`, with [[ivfPqIndexStreamAppend]]'s
    * contract: a replayed in-flight batch overwrites its own
    * uncommitted delta and a replayed committed batch is skipped.
    * Batches must commit in increasing batchId order — one streaming
    * query per index dir. Returns the committed corpus count.
    */
  def semanticIndexStreamAppend(spark: SparkSession, dir: String,
                                batch: DataFrame, batchId: Long): Long = {
    require(batchId >= 0, s"batchId must be >= 0, got $batchId")
    FrozenIndex.append(spark, SemanticKind, dir, batch, Some(batchId))(semanticAssign(_, batch))
  }

  /** (vec_id, embedding, cluster) of new vectors under the frozen
    * centroids of `index`. Bulk appends can be corpus-sized
    * single-split frames, so they spread like a training corpus of
    * the same k.
    */
  private def semanticAssign(index: SemanticIndex, vecs: DataFrame): DataFrame =
    nearestCells(withUnits(spreadForK(vectors(vecs), index.centroids.size)), "u",
        index.centroids)
      .select(col("vec_id"), col("embedding"), col("cluster"))

  /** Fold committed deltas into the cluster-partitioned base
    * assignment table ([[FrozenIndex.compact]]): repeated appends
    * otherwise accumulate one plain-parquet dir per batch, each an FS
    * listing + un-pruned scan relation at probe time. The folded
    * assignment is bit-identical, and probes regain partition pruning
    * over the appended rows too.
    */
  def semanticIndexCompact(spark: SparkSession, dir: String): Unit =
    FrozenIndex.compact(spark, SemanticKind, dir)

  /** The frozen semantic lifecycle WITH corpus growth, as one oracled
    * query — build once on the BASE corpus (vec_id % 10 ≠ 0), append
    * the rest under the frozen model ([[semanticIndexAppend]] —
    * assignment-only, no retrain), then the usual within-cluster pair
    * verify over the FULL assignment. Deterministic end-to-end, so it
    * carries a full DuckDB oracle: the Lloyd chain trained on base
    * rows only, a_fin assigning the whole corpus under the final
    * centroids — exactly what build(base) + append(rest) materializes
    * on disk.
    */
  def dedupSemanticAppended(embeddings: DataFrame, indexDir: String, k: Int = 4,
                            iters: Int = 3, threshold: Double = 0.45,
                            blocks: Int = 0): DataFrame = {
    val base = embeddings.filter(col("vec_id") % 10 =!= 0)
    val fresh = embeddings.filter(col("vec_id") % 10 === 0)
    val params = s"sem;k=$k;it=$iters;base=mod10;src=${sourceStamp(embeddings)}"
    // ONE corpus scan for both counts (total + fresh split)
    val cnts = embeddings
      .agg(count(lit(1)), count(when(col("vec_id") % 10 === 0, 1))).collect()(0)
    val n = cnts.getLong(0)
    val index = FrozenIndex.served(SemanticKind, indexDir, params, embeddings, n)(
      semanticIndexBuild(base, k, iters), n - cnts.getLong(1),
      semanticIndexAppend(embeddings.sparkSession, _, fresh))
    withinClusterPairs(index.assigned, threshold, blocks)
  }

  /** Frozen-lifecycle SemDeDup pairs: build-if-absent → load → the
    * same within-cluster pair verify — bit-identical to
    * [[dedupSemantic]] (assignment survives the parquet round trip
    * exactly), so it shares dedup_semantic's oracle. The serve-side
    * win is [[SemanticKind]]'s cluster-partitioned layout plus
    * skipping the per-run Lloyd train.
    */
  def dedupSemanticServed(embeddings: DataFrame, indexDir: String, k: Int = 8,
                          iters: Int = 3, threshold: Double = 0.45,
                          blocks: Int = 0): DataFrame =
    withinClusterPairs(semanticIndexServed(embeddings, indexDir, k, iters).assigned,
      threshold, blocks)

  /** The frozen [[SemanticIndex]] at `indexDir` that
    * [[dedupSemanticServed]], the streaming probe serve
    * ([[graft.streaming.SimilarityStream.semanticNearDupServeFrozen]])
    * and ScaleProbe's serve probe all read: one build fingerprint, so
    * they never rebuild each other's index in a shared directory.
    */
  private[graft] def semanticIndexServed(embeddings: DataFrame, indexDir: String,
                                         k: Int, iters: Int): SemanticIndex =
    served(SemanticKind, indexDir, s"sem;k=$k;it=$iters", embeddings)(
      semanticIndexBuild(embeddings, k, iters))

  /** [[FrozenIndex.served]] over the whole corpus: `params` plus the
    * corpus's [[sourceStamp]] is the build fingerprint, its row count
    * the corpus guard.
    */
  private def served[I](kind: FrozenIndex.Kind[I], dir: String, params: String,
                        embeddings: DataFrame)(build: => I): I =
    FrozenIndex.served(kind, dir, s"$params;src=${sourceStamp(embeddings)}", embeddings,
      countRows(embeddings))(build)

  /** Probe a bounded batch of NEW vectors against a frozen
    * [[SemanticIndex]] — the ingestion-time half of SemDeDup ("is
    * this new document a semantic dup of anything already in the
    * corpus?"): each new vector is assigned to its cell under the
    * FROZEN centroids (no retrain) and exact-verified against that
    * cell's corpus members only. Same guarantees as the batch
    * operator: precision 1.0 by the exact verify; recall trades at
    * the cell boundary. The batch side broadcasts (caller-bounded —
    * a micro-batch), so the cost per probe is one corpus-assignment
    * scan with the codegen prefilter, the serving-scan class of
    * [[pqSearch]].
    *
    * `excludeSelf` mirrors [[notSelf]]'s policy (advisor round 12):
    * an ingestion batch carries its OWN id namespace, so the default
    * keeps a corpus row whose vec_id merely collides with a batch id
    * — pass `excludeSelf = true` only for corpus-derived batches,
    * where id equality really means "the same vector".
    */
  def semanticProbe(index: SemanticIndex, batch: DataFrame,
                    threshold: Double = 0.45,
                    excludeSelf: Boolean = false): DataFrame =
    cellProbe(index.assigned, nearestCells(withUnits(batch), "u", index.centroids)
        .select(col("vec_id").as("new_id"), col("embedding").as("eb"), col("cluster")),
      threshold, excludeSelf)

  /** The verify half of both ingestion probes: each (new_id, eb,
    * cluster) batch row against its cell's members of `assigned`, as
    * (new_id, corpus_id, cluster, cosine) sorted by (new_id,
    * corpus_id).
    */
  private def cellProbe(assigned: DataFrame, nb: DataFrame, threshold: Double,
                        excludeSelf: Boolean): DataFrame =
    verified(assigned
        .select(col("vec_id").as("corpus_id"), col("embedding").as("ea"), col("cluster"))
        .join(broadcast(nb), Seq("cluster"))
        .filter(if (excludeSelf) col("corpus_id") =!= col("new_id") else lit(true)),
      "ea", "eb", threshold)
      .select(col("new_id"), col("corpus_id"), col("cluster"), col("cosine"))
      .orderBy(col("new_id"), col("corpus_id"))

  /** Hierarchical SemDeDup — [[dedupSemantic]]'s SECOND-DECADE scale
    * path. The flat operator's contract grows k with the corpus so a
    * cluster's pair block stays bounded, but flat argmin assignment
    * is then Θ(n·k·d) = Θ(n²·d/200k) — quadratic again, one level
    * up. The production recipe (what SemDeDup-at-scale actually runs:
    * coarse-quantized assignment) factors k = k₁·k₂: ONE global Lloyd
    * over k₁ coarse cells, then an independent k₂-means INSIDE each
    * coarse cell, so assignment work is O(n·(k₁+k₂)·d) — with
    * k₁ = k₂ = √k that's Θ(n^1.5·d) total for k ∝ n.
    *
    * Same guarantees as the flat operator, by the same construction:
    * every returned pair is exact-verified (precision 1.0, result ⊂
    * [[embeddingNearDup]]), md5-seeded determinism end-to-end, and a
    * FULL DuckDB oracle (the coarse Lloyd chain + one RESTRICTED
    * fine chain per coarse cell — the trainEx-restriction technique
    * the appended-index oracle introduced). RECALL trades twice (a
    * true pair can straddle a coarse OR a fine boundary); the spec
    * pins the measured floor next to the flat operator's.
    *
    * Physical shape: [[semanticIndexBuildHier]]'s grouped build, whose
    * fine level trains every per-cell k₂-means concurrently in one
    * job per Lloyd iteration, then the same
    * largest-cluster-sized block-pair triangle as the flat operator.
    */
  def dedupSemanticHier(embeddings: DataFrame, k1: Int = 4, k2: Int = 4,
                        iters: Int = 3, threshold: Double = 0.45,
                        blocks: Int = 0): DataFrame =
    withinClusterPairs(semanticIndexBuildHier(embeddings, k1, k2, iters).assigned,
      threshold, blocks)

  /** The TWO-LEVEL frozen model of the SemDeDup family: k₁ coarse
    * centroids plus fine centroids keyed by coarse cell (k₁·k₂·dim
    * longs — model parameters), so total clusters k₁·k₂ can track the
    * corpus while every per-row argmin scans only k₁ + k₂ centroids.
    *
    * The build trains the fine level as ONE job per Lloyd
    * iteration — every per-cell k₂-means runs CONCURRENTLY: the
    * fine step is one [[meanStep]] job keyed by the row's coarse cell,
    * whose scan covers only that cell's centroids — the loop of the
    * per-cell kernel ([[graft.plans.ArgminL2.argminUnitsPerCell]]) that
    * assigns the corpus afterwards. One job per fine iteration,
    * independent of k₁. Each
    * cell's init is its first ≤ k₂ vectors in (md5(vec_id), vec_id) order, all cells in
    * one window pass, and an empty fine cluster keeps its previous
    * centroid — the flat trainer's rules, cell by cell, which is what
    * dedup_semantic_hier's oracle replays.
    */
  final case class HierSemanticIndex private[Similarity] (
      coarse: Seq[Array[Long]],
      fine: Seq[(Long, Long, Seq[Long])],
      k2: Int, assigned: DataFrame)

  def semanticIndexBuildHier(embeddings: DataFrame, k1: Int = 4, k2: Int = 4,
                             iters: Int = 3): HierSemanticIndex = {
    // Coarse train + coarse assignment share ONE corpus checkpoint
    // (trainAssign); the assigned frame materializes again here
    // because every fine iteration (and the final assignment)
    // re-scans it WITH the coarse label.
    val (coarseCentroids, coarseA) = trainAssign(embeddings, k1, iters)
    val vecs = coarseA
      .select(col("vec_id"), col("embedding"), col("u"), col("cluster").as("coarse"))
      .honestCheckpoint()
    coarseA.releaseSources() // the corpus checkpoint, superseded by vecs
    val w = Window.partitionBy(col("coarse"))
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
    var cents: Seq[(Long, Long, Seq[Long])] = vecs
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= k2)
      .select(col("coarse"), (col("rn") - 1).cast("long").as("fine"), col("u"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2))).toSeq
    if (cents.nonEmpty) {
      val rows = vecs.select(col("u"), col("coarse")).queryExecution.toRdd
      var cells = fineCells(coarseCentroids.size, cents)
      for (_ <- 1 to iters) cells = meanStep(rows, cells, keyed = true)
      cents = cents.map { case (c, f, _) => (c, f, cells(c.toInt)(f.toInt).toSeq) }
    }
    val assigned = vecs.withColumn("fine", fineCluster(coarseCentroids.size, cents))
      .select(col("vec_id"), col("embedding"),
        (col("coarse") * k2 + col("fine")).as("cluster"))
      .honestCheckpoint()
    vecs.releaseCheckpoint() // assigned and superseded
    HierSemanticIndex(coarseCentroids, cents, k2, assigned)
  }

  /** Fine cluster of each (coarse, u) row under the per-coarse-cell
    * model `fine` ((coarse, fine, cu) rows, fine ids 0 until n within
    * a cell — a centroid's position is its id): one per-cell kernel
    * call per row. A coarse cell that ended training with no members
    * has no fine centroids, so a probe vector landing there gets a
    * null cluster (the inner equi-join on cluster then drops it; a
    * dead cell has no candidates anyway). No model at all (an empty
    * corpus) is null for every row — the kernel never sees an empty
    * model.
    */
  private def fineCluster(k1: Int, fine: Seq[(Long, Long, Seq[Long])]): Column =
    if (fine.isEmpty) lit(null).cast("long")
    else graft.plans.ArgminL2.argminUnitsPerCell(col("u"), col("coarse"), fineCells(k1, fine))
      .getItem(0).getField("cluster")

  /** The fine model as per-coarse-cell centroid lists, fine id =
    * position (the per-cell kernel's and [[meanStep]]'s layout).
    */
  private def fineCells(k1: Int, fine: Seq[(Long, Long, Seq[Long])]): Seq[Seq[Array[Long]]] = {
    val byCell = fine.groupBy(_._1)
    (0 until k1).map { c =>
      val fs = byCell.getOrElse(c.toLong, Nil).sortBy(_._2)
      require(fs.map(_._2) == fs.indices.map(_.toLong),
        s"fine centroid ids of coarse cell $c are not 0 until ${fs.size}")
      fs.map(_._3.toArray)
    }
  }

  /** Ingestion-time probe against a [[HierSemanticIndex]] — the
    * two-level serve mate of [[semanticProbe]]: a batch vector
    * assigns to its coarse cell ([[nearestCells]]) and then to the
    * nearest of that cell's ≤ k₂ fine centroids ([[fineCluster]]) —
    * the build's argmin, applied to the bounded batch. The verify half
    * is identical to the flat probe: the batch joins only its global
    * cells' members (the cluster-partitioned on-disk layout prunes the
    * scan), exact decimal cosine on survivors.
    */
  def semanticProbeHier(index: HierSemanticIndex, batch: DataFrame,
                        threshold: Double = 0.45,
                        excludeSelf: Boolean = false): DataFrame =
    cellProbe(index.assigned, nearestCells(withUnits(batch), "u", index.coarse)
        .select(col("vec_id"), col("embedding"), col("u"), col("cluster").as("coarse"))
        .select(col("vec_id").as("new_id"), col("embedding").as("eb"),
          (col("coarse") * index.k2 + fineCluster(index.coarse.size, index.fine)).as("cluster")),
      threshold, excludeSelf)

  /** Frozen-lifecycle hierarchical SemDeDup pairs — bit-identical to
    * [[dedupSemanticHier]] (assignment and centroids survive
    * the parquet round trip exactly), so it shares
    * dedup_semantic_hier's oracle.
    */
  def dedupSemanticHierServed(embeddings: DataFrame, indexDir: String,
                              k1: Int = 4, k2: Int = 4, iters: Int = 3,
                              threshold: Double = 0.45, blocks: Int = 0): DataFrame =
    withinClusterPairs(hierIndexServed(embeddings, indexDir, k1, k2, iters).assigned,
      threshold, blocks)

  /** The frozen [[HierSemanticIndex]] at `indexDir` that
    * [[dedupSemanticHierServed]], the streaming probe serve
    * ([[graft.streaming.SimilarityStream.semanticNearDupServeHierFrozen]])
    * and ScaleProbe's serve probe all read, under one build
    * fingerprint.
    */
  private[graft] def hierIndexServed(embeddings: DataFrame, indexDir: String,
                                     k1: Int, k2: Int, iters: Int): HierSemanticIndex =
    served(HierKind, indexDir, s"semhier;k1=$k1;k2=$k2;it=$iters", embeddings)(
      semanticIndexBuildHier(embeddings, k1, k2, iters))

  /** Shared verify stage of the SemDeDup family: the within-cluster
    * pair space of an (vec_id, embedding, cluster) frame, spread over
    * block-pair triangle groups keyed (cluster, bi, bj) and sized by
    * the LARGEST cluster (k-row aggregate — model-parameter-sized),
    * so a skewed cluster cannot concentrate its nᵢ²/2 pairs in one
    * task; codegen double-cosine prefilter, exact decimal verify.
    */
  private def withinClusterPairs(assigned: DataFrame, threshold: Double,
                                 blocks: Int): DataFrame = {
    val b =
      if (blocks > 0) blocks
      else {
        // coalesce: max(count) over an EMPTY assignment is NULL —
        // degrade to b=1 / empty output, not an NPE (advisor round 12).
        val maxN = assigned.groupBy(col("cluster")).count()
          .agg(coalesce(max(col("count")), lit(0L))).collect()(0).getLong(0)
        math.max(1L, (maxN + 199999L) / 200000L).toInt
      }
    blockPairs(assigned, b, threshold, "cluster")
  }

  /** Radius (range) search — every corpus vector with exact cosine ≥
    * `threshold` of each query, the FAISS `range_search` analog
    * (top-k's sibling: the caller wants ALL matches above a quality
    * bar, not a fixed count): queries broadcast over ONE corpus scan
    * and the threshold verify ([[verified]]) cuts the stream
    * map-side. No window, no top-k shuffle — the only exchange is the
    * final presentation sort, so the scan parallelizes embarrassingly
    * at any corpus size (the broadcast query set is the
    * caller-bounded side).
    */
  def annRange(embeddings: DataFrame, queries: Option[DataFrame] = None,
               threshold: Double = 0.4,
               queriesAreCorpusDerived: Option[Boolean] = None): DataFrame = {
    val (qs, self) = querySet(embeddings, queries, queriesAreCorpusDerived)
    rangeHits(vectors(embeddings).join(broadcast(flatQueries(qs)), notSelf(self)), threshold)
  }

  /** The range verify of (query_id, qe, vec_id, embedding) pairs as
    * (query_id, neighbor_id, cosine) sorted by (query_id, neighbor_id).
    */
  private def rangeHits(pairs: DataFrame, threshold: Double): DataFrame =
    verified(pairs, "qe", "embedding", threshold)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("cosine"))
      .orderBy(col("query_id"), col("neighbor_id"))

  /** The IVF range probe over a cell assignment: each query's
    * `nprobe` nearest cells ([[nearestCells]]), then the range verify
    * against those cells' members only — [[annRangeIvf]] and
    * [[annRangeIvfServed]] alike.
    */
  private def rangeProbe(index: SemanticIndex, queries: DataFrame, threshold: Double,
                         nprobe: Int, excludeSelf: Boolean): DataFrame = {
    val qs = nearestCells(withUnits(queries), "u", index.centroids, nprobe)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"), col("cluster"))
    rangeHits(index.assigned.join(broadcast(qs), Seq("cluster")).filter(notSelf(excludeSelf)),
      threshold)
  }

  /** IVF range search — the FAISS `IndexIVF.range_search` analog and
    * [[annRange]]'s SCALE companion: the windowless broadcast scan is
    * linear in the corpus by definition (7.5× at 100×, §6), so at
    * scale the radius query should pay only its probed cells. The
    * trained Lloyd coarse quantizer assigns the corpus once; each
    * query probes its `nprobe` nearest cells ([[nearestCells]] —
    * one shuffle-free top-nprobe kernel call per row) and the
    * exact-threshold verify runs over those cells' members only
    * (candidates ≈ nprobe/nlist of the corpus). A corpus vector lives in exactly ONE cell, so no
    * result can duplicate across probed cells. RECALL trades at the
    * cell boundary like every IVF layout — nprobe buys it back, and
    * nprobe = nlist recovers [[annRange]] bit-for-bit (spec-pinned).
    * Same exact integer/decimal arithmetic end-to-end → FULL DuckDB
    * oracle (the Lloyd chain + q_probe gating the range verify).
    */
  def annRangeIvf(embeddings: DataFrame, queries: Option[DataFrame] = None,
                  threshold: Double = 0.4, nlist: Int = 8, ivfIters: Int = 3,
                  nprobe: Int = 2,
                  queriesAreCorpusDerived: Option[Boolean] = None): DataFrame = {
    // train + corpus assignment share one materialized corpus frame
    val (centroids, corpusA) = trainAssign(embeddings, nlist, ivfIters)
    val (qs, self) = querySet(embeddings, queries, queriesAreCorpusDerived)
    rangeProbe(SemanticIndex(centroids, corpusA.select(col("vec_id"), col("embedding"),
      col("cluster"))), qs, threshold, nprobe, self)
  }

  /** Serve-from-frozen-index IVF range search — [[annRangeIvf]]'s
    * build/serve split, the family-standard move the trained variant
    * lacked (at gate SF the radius query is TRAIN-dominated: 2.89 s
    * vs flat ann_range's 0.43 — FAISS serves `range_search` from a
    * BUILT IndexIVF for exactly this reason). The frozen structure IS
    * the flat [[SemanticIndex]] — trained coarse centroids + the
    * cluster-PARTITIONED corpus assignment ([[SemanticKind]]'s
    * layout, so a probe joining on `cluster` prunes the scan to the
    * probed cells' partitions) — reused verbatim, which buys the
    * whole lifecycle for free: build-if-absent with the sourceStamp
    * fingerprint, crash-safe staged publish, delta append/ingest/
    * compact. Serve = [[nearestCells]] over the LOADED centroids +
    * the same exact-threshold verify, so the result is bit-identical
    * to [[annRangeIvf]] at equal params (integer units survive the
    * parquet round trip) and it shares ann_range_ivf's FULL oracle.
    */
  def annRangeIvfServed(embeddings: DataFrame, indexDir: String,
                        queries: Option[DataFrame] = None,
                        threshold: Double = 0.4, nlist: Int = 8, ivfIters: Int = 3,
                        nprobe: Int = 2,
                        queriesAreCorpusDerived: Option[Boolean] = None): DataFrame = {
    val index = served(SemanticKind, indexDir, s"rangeivf;nlist=$nlist;ivfIt=$ivfIters",
      embeddings)(semanticIndexBuild(embeddings, nlist, ivfIters))
    val (qs, self) = querySet(embeddings, queries, queriesAreCorpusDerived)
    rangeProbe(index, qs, threshold, nprobe, self)
  }

  /** Self-match exclusion policy for the ann* family: when the query
    * set defaults to a CORPUS SUBSET, `query_id` and `vec_id` share
    * one id namespace and a query must not return itself — but an
    * EXTERNAL query frame has its own id namespace, where excluding
    * on id equality would silently drop a true neighbor whose corpus
    * id merely collides with a query id. So: exclude iff the query
    * set is corpus-derived (overridable where a caller derives its
    * own corpus-subset frame, e.g. [[annIvfTrained]]).
    */
  private def notSelf(corpusDerived: Boolean): Column =
    if (corpusDerived) col("vec_id") =!= col("query_id") else lit(true)

  /** Exact top-k cosine neighbors for the query set: queries
    * broadcast over one corpus scan, the value cut at the k-th codegen
    * double cosine ([[keepFastSurvivors]]), then the exact re-rank.
    */
  def annBruteForce(embeddings: DataFrame, queries: Option[DataFrame] = None,
                    k: Int = 5): DataFrame = {
    val (qs, self) = querySet(embeddings, queries)
    exactTopK(keepFastSurvivors(
      vectors(embeddings).join(broadcast(flatQueries(qs)), notSelf(self)), k), k)
  }

  /** Deterministic Lloyd's k-means over the embedding column — the
    * coarse-quantizer TRAINER for [[annIvf]] (label = trained
    * cluster instead of a given one).
    *
    * Distributed shape: centroids are model parameters (k×dim
    * integers — kilobytes) riding the plan as data; each iteration
    * is ONE scan computing the argmin-distance assignment (one fused
    * kernel call per row, no join, no shuffle) plus one
    * partial-aggregated per-cluster mean (shuffle carries k×dim
    * rows). Init is the first k vectors in md5(vec_id) order —
    * seeded, reproducible anywhere ([[lloyd]]).
    *
    * ALL arithmetic is exact integer fixed-point (see [[units]]):
    * components quantize to 1e-8 units, squared distances and
    * half-up means stay in Long space, and the reported dist is an
    * integer half-up of du/1e16 at 6 dp — so training, assignment,
    * and output are bit-identical on any engine, and the iterative
    * trainer carries a FULL DuckDB oracle (the unrolled-iteration
    * CTE chain, the fin_ridge technique).
    */
  def kmeans(embeddings: DataFrame, k: Int = 8, iters: Int = 5): DataFrame =
    trainAssign(embeddings, k, iters)._2
      .select(col("vec_id"), col("cluster"),
        ratio6("du", "10000000000", scale = 1).as("dist"))
      .orderBy(col("vec_id"))

  /** 1e-8 fixed-point quantization of a whole embedding — the
    * integer-units trick from [[annLsh]]: round(double(e) · 1e8) is
    * the same correctly-rounded double product and half-up round on
    * every engine, and everything downstream stays in exact integer
    * space. Bounds (|e| < 0.6 measured, dim = 64): |u| < 6e7,
    * squared diff < 1.5e16, per-vector distance < 1e18 — inside Long
    * with the kernels' Math.*Exact checks as the loud guard.
    *
    * One codegen kernel call per ROW (vs the per-component
    * `round(e · 1e8)` fold it replaced, which re-quantized inside
    * every centroid's HOF lambda — k×dim BigDecimal rounds per row,
    * the round-7 ann_kmeans 5.6× regression). Value parity with
    * Spark's `round` is argued in [[graft.plans.QuantizeUnitsI64]]
    * and pinned by SimilaritySpec + the DuckDB oracles.
    */
  private def units(e: Column): Column =
    graft.plans.IntegerUnits.quantizeUnits(e)

  /** The L2-normalized `embedding` in 1e-8 units — the PQ, OPQ and SQ
    * working space ([[pqCorpusUnits]]).
    */
  private def normalizedUnits: Column =
    graft.plans.IntegerUnits.normalizeUnits(col("embedding"))

  /** FULL IVF search: the coarse quantizer is the TRAINED k-means
    * model (vs [[annIvf]], which uses the pre-given label column as
    * its cell assignment): the corpus is assigned in ONE scan, and
    * the (small) query frame is assigned independently against the
    * same centroids — external query vectors that are not corpus
    * members work, and the corpus assignment scan runs exactly once
    * per action. Shares kmeans' exact integer-units arithmetic, so the
    * trained labels — and the whole search — carry a full DuckDB
    * oracle (the unrolled Lloyd CTE chain feeding the ann_ivf ranking
    * SQL); the spec also asserts determinism and recall@k against the
    * exact scan. Centroids are data in one fused kernel, so
    * FAISS-sized nlist (4√n–16√n: tens of thousands at 10⁹ vectors)
    * plans at O(1) size.
    *
    * `nprobe` probes the query's nearest `nprobe` cells
    * ([[nearestCells]]): candidates grow to nprobe/nlist of the
    * corpus and recall@k is monotonically non-decreasing in nprobe
    * (candidate sets are nested — SimilaritySpec pins this, and that
    * nprobe = nlist recovers the exact brute-force result). Each
    * (query, neighbor) pair still appears once: a corpus vector lives
    * in exactly one cell. Output `label` is the NEIGHBOR's cell.
    */
  def annIvfTrained(embeddings: DataFrame, queries: Option[DataFrame] = None,
                    k: Int = 5, nlist: Int = 8, iters: Int = 3,
                    nprobe: Int = 1): DataFrame = {
    // train + corpus assignment share one materialized corpus frame
    val (centroids, corpusA) = trainAssign(embeddings, nlist, iters)
    val corpus = corpusA
      .select(col("vec_id"), col("embedding"), col("cluster").as("label"))
    val (qs, self) = querySet(embeddings, queries)
    val probed = nearestCells(withUnits(qs), "u", centroids, nprobe)
      .select(col("vec_id"), col("embedding"), col("cluster").as("label"))
    // self-exclusion follows OUR caller's query provenance, not the
    // always-Some frame handed to annIvf (see notSelf)
    annIvf(corpus, Some(probed), k, queriesAreCorpusDerived = Some(self))
  }

  /** Per-label centroids in long form (label, dim, mean) — the
    * coarse-quantizer training step for [[annIvf]], and the general
    * "cluster statistics over an embedding column" aggregation.
    * posexplode fans each vector into (dim, component) rows that
    * partial-aggregate map-side, so the shuffle carries only
    * labels × dims rows regardless of corpus size; means are exact
    * decimal sums divided in doubles (order-independent).
    */
  def labelCentroids(embeddings: DataFrame): DataFrame = {
    val comp = round(col("c").cast("double"), 8).cast("decimal(14,8)")
    embeddings
      .select(col("label").cast("long").as("label"), posexplode(col("embedding")).as(Seq("dim", "c")))
      .groupBy(col("label"), col("dim").cast("long").as("dim"))
      .agg(count(lit(1)).as("n"),
        (round(sum(comp).cast("double") / count(lit(1)), 6) + lit(0.0)).as("mean"))
      .orderBy(col("label"), col("dim"))
  }

  /** LSH-bucketed ANN: 8 bands × 3 random hyperplanes. A vector's
    * band signature is the sign pattern of its projections; a
    * candidate is any corpus vector sharing ≥ 1 band bucket with the
    * query, then exact top-k re-ranks candidates only. For neighbor
    * cosine ~0.5 the 3-plane band matches with p ≈ 0.3, so 8 bands
    * give ~95% recall while scanning ~⅛ of the corpus per band
    * bucket — the sublinear-candidate scale path (vs annBruteForce's
    * full scan, annIvf's cell prune).
    *
    * Signatures come from ONE call to the native [[graft.plans.BandSignatures]]
    * kernel per row (replacing 24 HOF dot-product lambdas), and its
    * fixed-point integer arithmetic is engine-exact — so although the
    * RESULT is approximate ANN, the COMPUTATION is deterministic and
    * fully SQL-replayable: the DuckDB oracle inlines the same scaled
    * plane constants and reproduces signatures, candidates, and exact
    * re-rank bit-for-bit.
    */
  def annLsh(embeddings: DataFrame, queries: Option[DataFrame] = None,
             k: Int = 5, queriesAreCorpusDerived: Option[Boolean] = None): DataFrame = {
    import graft.plans.GraftExpressions.bandSigs
    def banded(df: DataFrame, idCol: String): DataFrame =
      df.select(col(idCol), col("embedding"),
        posexplode(bandSigs(col("embedding"), LshPlanes.scaled, LshPlanes.rowsPerBand))
          .as(Seq("band", "sig")))
    val (qs, self) = querySet(embeddings, queries, queriesAreCorpusDerived)
    val corpus = banded(vectors(embeddings), "vec_id")
    val qBanded = banded(qs.select(col("vec_id").as("query_id"), col("embedding")), "query_id")
      .withColumnRenamed("embedding", "qe")
      .withColumnRenamed("band", "qband").withColumnRenamed("sig", "qsig")
    // Candidate dedup on IDS ONLY: a band can match a (query, vector)
    // pair up to `bands` times, and the distinct is a shuffle — so it
    // must carry two longs per row, not two longs plus two 64-float
    // vectors (512 B/row; the same narrow-shuffle rule as the dedup
    // verify stage). Vectors re-attach AFTER the dedup: the query
    // side from the (small, broadcast) query frame, the corpus side
    // from a scan co-joined on vec_id.
    val cands = corpus.join(broadcast(qBanded),
        col("band") === col("qband") && col("sig") === col("qsig") && notSelf(self))
      .select(col("query_id"), col("vec_id")).distinct()
    // Two-phase re-rank like annBruteForce/annIvf: the candidate
    // window sorts on the CODEGEN double cosine (WindowGroupLimit
    // prepasses re-evaluate the sort key — on the interpreted decimal
    // fold that re-evaluation dominated the whole query), the value
    // cut keeps every possible true top-k member, and the exact
    // decimal cosine prices only the survivors.
    exactTopK(keepFastSurvivors(cands
      .join(broadcast(flatQueries(qs)), "query_id")
      .join(vectors(embeddings), "vec_id"), k), k)
  }

  /** Product-quantization ANN (PQ + asymmetric-distance scan) — the
    * memory-bound scale path: the corpus is compressed to `m` byte
    * codes per vector (64 float dims → 8 codes here, a 32× shrink),
    * and search reads CODES, not vectors.
    *
    * Train: the embedding splits into `m` contiguous subspaces; each
    * gets its own k-means codebook, all m trained jointly
    * ([[pqTrainCodebooks]]: deterministic seed, model = m×k×(dim/m)
    * longs riding the plan as data, like the IVF centroids). Encode:
    * ONE corpus scan computes each subspace's argmin code in one
    * fused kernel ([[graft.plans.PqEncodeI64]]). Search (ADC): each
    * query precomputes its m×k partial-distance table (tiny frame,
    * broadcast); the
    * approximate distance of a corpus vector is m TABLE LOOKUPS —
    * the fused [[graft.plans.PqAdcSumI64]] codegen kernel, one
    * compiled loop over Σ_j qtable[j][codes[j]] — instead
    * of a dim-wide dot product, the candidate distance of the
    * family's two-phase search.
    *
    * The candidate scan reads only the codes (m bytes per vector).
    * The exact re-rank does not: it joins the ≤ rerank×queries
    * survivors to the whole raw corpus ([[twoPhase]] gives that
    * cost), and a flat kind has no cell to prune that read by.
    *
    * Like [[kmeans]], every step up to the re-rank runs in EXACT
    * integer units, so the whole search — normalization, joint
    * codebook training, encoding, ADC candidate order — replays as a
    * DuckDB CTE chain and ann_pq carries a full value oracle:
    * normalization divides by the exact-decimal norm (a per-row
    * scalar chain of correctly-rounded IEEE ops — no fold-order
    * dependence), components quantize to 1e-8 units, and training
    * means are half-up integer division.
    */
  def annPq(embeddings: DataFrame, queries: Option[DataFrame] = None,
            k: Int = 5, m: Int = 8, codebookSize: Int = 8, iters: Int = 3,
            rerank: Int = 50, queriesAreCorpusDerived: Option[Boolean] = None): DataFrame = {
    val index = pqIndexBuild(embeddings, m, codebookSize, iters)
    val (qs, self) = querySet(embeddings, queries, queriesAreCorpusDerived)
    pqSearch(index, qs, k, rerank, excludeSelf = self)
  }

  /** A trained, materialized PQ index: the serving-side model. The
    * codebooks are plan literals (m×cb×dsub longs); `codes` is the
    * encoded corpus, checkpointed so repeated searches (a query
    * STREAM, a reused index) scan 9-byte codes without re-running the
    * encode — on a cluster this is the persisted codes table next to
    * the raw vectors.
    */
  final case class PqIndex private[Similarity] (
      codebooks: IndexedSeq[IndexedSeq[Array[Long]]],
      codes: DataFrame, corpus: DataFrame, m: Int)

  /** Train the codebooks and encode the corpus ONCE — the index-build
    * half of [[annPq]] (identical math; annPq composes this with
    * [[pqSearch]]).
    */
  def pqIndexBuild(embeddings: DataFrame, m: Int = 8, codebookSize: Int = 8,
                   iters: Int = 3): PqIndex = {
    val dsub = pqDsub(m)
    val corpusU = pqCorpusUnits(embeddings)
    val codebooks = pqTrainCodebooks(corpusU, m, codebookSize, iters, dsub)
    val codes = pqEncode(corpusU, codebooks, dsub).honestCheckpoint()
    corpusU.releaseCheckpoint() // encoded and superseded by the codes
    PqIndex(codebooks, codes, vectors(embeddings), m)
  }

  /** Search a trained [[PqIndex]] with any (vec_id, embedding) query
    * frame: [[twoPhase]] with the ADC table as the query side and
    * [[adcDistance]] as the candidate distance.
    */
  def pqSearch(index: PqIndex, queries: DataFrame, k: Int = 5, rerank: Int = 50,
               excludeSelf: Boolean = false): DataFrame =
    twoPhase(index.codes, pqQueries(queries, index.codebooks, pqDsub(index.m)),
      adcDistance(index.m), index.corpus, k, rerank, excludeSelf)

  /** md5-seeded ±1 sign diagonal for the OPQ rotation — deterministic
    * on any engine (the oracle generator inlines the same values as
    * literals), no RNG state.
    */
  private[graft] def opqSigns(dim: Int): Seq[Long] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until dim).map { j =>
      val h = md.digest(s"opq:$j".getBytes("UTF-8"))
      md.reset()
      if ((h(0) & 1) == 0) 1L else -1L
    }
  }

  /** Signed-permutation application `y[r] = s_r · x[π(r)]` — the
    * orthogonal rotation family the OPQ refinement optimizes over
    * (64 element_at projections: plan-constant positions, codegen).
    */
  private[graft] def permuteSigns(un: Column, perm: Array[Int], psign: Array[Long]): Column =
    array(perm.indices.map(r =>
      lit(psign(r)) * element_at(un, perm(r) + 1)): _*)

  /** The OPQ rotation-update step restricted to SIGNED PERMUTATIONS —
    * Ge et al. 2013's orthogonal Procrustes update (their eq. 7:
    * R* = argmax tr(R X Ŷᵀ)) searched over the signed-permutation
    * subgroup. Within that subgroup the SIGN is exact given the
    * permutation (s_r = sign(M[r][π(r)])), but choosing π itself —
    * maximizing Σ_r |M[r][π(r)]| — is a linear assignment problem;
    * we pick π with a deterministic GREEDY HEURISTIC (largest |M|
    * first, each row/col used once, (|m| DESC, r, c) tiebreak), not
    * the exact Hungarian argmax. The greedy is what's replayable as
    * a recursive SQL CTE (unlike an SVD or Hungarian), and the
    * oracle replays the same greedy, so parity is exact even where
    * the assignment is approximate.
    *
    * M[r][c] = Σ_v ŷ_v[r] · y_v[c] is NEVER materialized per row:
    * ŷ[r] is a codebook entry determined by the vector's subspace-
    * j(r) code, so M factors through the per-(subspace, code) GROUP
    * SUMS of the corpus — S[j,t,c] = Σ_{v: codes_v[j]=t} y_v[c] —
    * one m-fanned aggregation (n·m·d rows map-side partial-summed to
    * m·cb·d — model-parameter sized), then the m·cb·d × dsub
    * contraction runs driver-side in exact BigInteger. Decimal(38,0)
    * sums: components are ≤ 8e8 units, so Long sums would overflow
    * near 10¹⁰ rows — the 100 TB regime this targets.
    */
  private[graft] def opqProcrustes(corpusR: DataFrame,
                            books: IndexedSeq[IndexedSeq[Array[Long]]],
                            m: Int, dsub: Int): (Array[Int], Array[Long]) = {
    val dim = m * dsub
    val codes = pqEncode(corpusR, books, dsub)
    val sRows = corpusR.join(codes, "vec_id")
      .select(col("codes"), posexplode(col("un")).as(Seq("gdim", "u")))
      .select(explode(array((0 until m).map(j =>
          struct(lit(j).as("j"), element_at(col("codes"), j + 1).as("cl"))): _*)).as("a"),
        col("gdim"), col("u"))
      .groupBy(col("a.j").as("j"), col("a.cl").as("cl"), col("gdim"))
      .agg(sum(col("u").cast(org.apache.spark.sql.types.DecimalType(38, 0))).as("s"))
      .collect()
    val sMap = sRows.map(r => (r.getInt(0), r.getInt(1), r.getInt(2)) ->
      r.getDecimal(3).toBigInteger).toMap
    // M[r][c] = Σ_t cb[j(r)][t][r mod dsub] · S[j(r), t, c]
    val M = Array.tabulate(dim, dim) { (r, c) =>
      val j = r / dsub
      books(j).indices.map { t =>
        java.math.BigInteger.valueOf(books(j)(t)(r % dsub))
          .multiply(sMap.getOrElse((j, t, c), java.math.BigInteger.ZERO))
      }.reduce(_.add(_))
    }
    // greedy assignment on |M|: largest magnitude first, each row and
    // column used once; sign = sign(M) (zero reads +1)
    val perm = Array.fill(dim)(-1)
    val psign = Array.fill(dim)(1L)
    val usedR = Array.fill(dim)(false)
    val usedC = Array.fill(dim)(false)
    for (_ <- 0 until dim) {
      var best: (java.math.BigInteger, Int, Int) = null
      for (r <- 0 until dim if !usedR(r); c <- 0 until dim if !usedC(c)) {
        val a = M(r)(c).abs
        if (best == null || a.compareTo(best._1) > 0) best = (a, r, c)
      }
      val (_, r, c) = best
      usedR(r) = true; usedC(c) = true
      perm(r) = c
      psign(r) = if (M(r)(c).signum >= 0) 1L else -1L
    }
    (perm, psign)
  }

  /** OPQ — PQ behind a LEARNED orthogonal rotation (Ge et al. 2013,
    * "Optimized Product Quantization", public; FAISS's OPQ
    * pretransform): the rotation decorrelates dimensions and
    * balances per-subspace energy, which is exactly what caps flat
    * PQ's recall on anisotropic corpora. Init is the md5-SEEDED
    * randomized Hadamard transform ([[graft.plans.FwhtSignsI64]] —
    * H·D with D = seeded ±1 diag; unnormalized, so all distances
    * scale by exactly d and every argmin/rank is unchanged), then
    * `refineIters` rounds of the standard alternating optimization:
    * fit codebooks on the rotated corpus → re-solve the rotation
    * against the decoded vectors ([[opqProcrustes]] — exact over the
    * signed-permutation subgroup) → refit codebooks. Everything is
    * exact integer units end to end, so the WHOLE loop — rotation,
    * training, refinement, ADC, re-rank — carries a full DuckDB
    * oracle; the exact re-rank runs on the ORIGINAL embeddings
    * (cosine is rotation-invariant), so output schema and semantics
    * match [[annPq]] exactly.
    *
    * Scale shape: one kernel call per row for the rotation (FWHT is
    * d·log d adds), the [[pqTrainCodebooks]] joint trainer per
    * round, and one model-parameter-sized aggregation per refinement
    * ([[opqProcrustes]]); the rotation/permutation composition ships
    * with the closure as O(d) literals.
    */
  def annOpq(embeddings: DataFrame, queries: Option[DataFrame] = None,
             k: Int = 5, m: Int = 8, codebookSize: Int = 8, iters: Int = 3,
             rerank: Int = 50, refineIters: Int = 1,
             queriesAreCorpusDerived: Option[Boolean] = None): DataFrame = {
    val index = opqIndexBuild(embeddings, m, codebookSize, iters, refineIters)
    val (qs, self) = querySet(embeddings, queries, queriesAreCorpusDerived)
    opqSearch(index, qs, k, rerank, excludeSelf = self)
  }

  /** A trained, materialized OPQ index: the learned rotation (the
    * seeded Hadamard pre-signs + one signed permutation per
    * refinement round — O(d) model parameters), the rotated-space
    * codebooks, and the encoded corpus. The transform applied to a
    * query is the SAME composition the build applied to the corpus.
    */
  final case class OpqIndex private[Similarity] (
      signs: Seq[Long],
      perms: Seq[(Array[Int], Array[Long])],
      codebooks: IndexedSeq[IndexedSeq[Array[Long]]],
      codes: DataFrame, corpus: DataFrame, m: Int) {
    /** normalized units → the index's rotated working space. */
    private[Similarity] def rot(c: Column): Column =
      perms.foldLeft(graft.plans.FwhtSignsI64.fwhtSigns(c, signs)) {
        case (acc, (perm, psign)) => permuteSigns(acc, perm, psign)
      }
  }

  /** Train the OPQ model and encode the corpus ONCE — the index-build
    * half of [[annOpq]] (identical math; annOpq composes this with
    * [[opqSearch]]).
    */
  def opqIndexBuild(embeddings: DataFrame, m: Int = 8, codebookSize: Int = 8,
                    iters: Int = 3, refineIters: Int = 1): OpqIndex = {
    val dim = LshPlanes.dim
    val dsub = pqDsub(m)
    val signs = opqSigns(dim)
    var corpusR = embeddings
      .select(col("vec_id"), graft.plans.FwhtSignsI64.fwhtSigns(normalizedUnits, signs).as("un"))
      .honestCheckpoint()
    var books = pqTrainCodebooks(corpusR, m, codebookSize, iters, dsub)
    var perms = Seq.empty[(Array[Int], Array[Long])]
    for (_ <- 1 to refineIters) {
      val (perm, psign) = opqProcrustes(corpusR, books, m, dsub)
      perms = perms :+ (perm, psign)
      val rotated = corpusR
        .select(col("vec_id"), permuteSigns(col("un"), perm, psign).as("un"))
        .honestCheckpoint()
      corpusR.releaseCheckpoint() // superseded by this round's rotation
      corpusR = rotated
      books = pqTrainCodebooks(corpusR, m, codebookSize, iters, dsub)
    }
    val codes = pqEncode(corpusR, books, dsub).honestCheckpoint()
    corpusR.releaseCheckpoint() // encoded and superseded by the codes
    OpqIndex(signs, perms, books, codes, vectors(embeddings), m)
  }

  /** Search a trained [[OpqIndex]]: [[pqSearch]] with the queries
    * rotated into the index's working space.
    */
  def opqSearch(index: OpqIndex, queries: DataFrame, k: Int = 5, rerank: Int = 50,
                excludeSelf: Boolean = false): DataFrame =
    twoPhase(index.codes, pqQueries(queries, index.codebooks, pqDsub(index.m), index.rot),
      adcDistance(index.m), index.corpus, k, rerank, excludeSelf)

  /** Serve from a frozen OPQ index ([[OpqKind]]): codes like
    * [[PqKind]]'s, and the rotation model — O(d) pre-signs and
    * permutations, model parameters like the codebooks — in the meta
    * row. Served results are bit-identical to [[annOpq]] at equal
    * params (the integer rotation model and codebooks survive parquet),
    * so ann_opq_served shares ann_opq's FULL oracle.
    */
  def annOpqServed(embeddings: DataFrame, indexDir: String, k: Int = 5,
                   m: Int = 8, codebookSize: Int = 8, iters: Int = 3,
                   rerank: Int = 50, refineIters: Int = 1): DataFrame = {
    opqSearch(served(OpqKind, indexDir, s"opq;m=$m;cb=$codebookSize;it=$iters;ref=$refineIters",
        embeddings)(opqIndexBuild(embeddings, m, codebookSize, iters, refineIters)),
      defaultQueries(embeddings), k, rerank, excludeSelf = true)
  }

  /** Serve-from-frozen-index batch ANN — the lifecycle composition
    * (train → save → load → serve, [[FrozenIndex.served]]) as one
    * oracled query. Build-if-absent is decided ON DISK: a fresh JVM
    * pointed at a dir holding a complete index LOADS it instead of
    * silently rebuilding over it, while a missing, partial, stale-
    * layout or fingerprint-mismatched dir triggers one build and a
    * staged publish. Repeated calls (bench, query streams) therefore
    * read the steady-state serving cost: parquet codes scan + ADC +
    * exact re-rank, no training. A warm serve builds its frame with
    * two jobs, the corpus count
    * ([[graft.plans.HonestCheckpoint.countRows]]) and the meta
    * collect, which returns the codebooks too. Results are
    * bit-identical to [[annPq]] with the same parameters (integer
    * units survive the parquet round trip), so it shares ann_pq's
    * oracle.
    */
  def annPqServed(embeddings: DataFrame, indexDir: String, k: Int = 5,
                  m: Int = 8, codebookSize: Int = 8, iters: Int = 3,
                  rerank: Int = 50): DataFrame = {
    // build-parameter fingerprint (k/rerank are search-time knobs —
    // not part of the frozen model)
    pqSearch(served(PqKind, indexDir, s"pq;m=$m;cb=$codebookSize;it=$iters", embeddings)(
        pqIndexBuild(embeddings, m, codebookSize, iters)),
      defaultQueries(embeddings), k, rerank, excludeSelf = true)
  }

  /** A trained SQ8 scalar-quantizer index — FAISS's OTHER production
    * compression layout (`ScalarQuantizer`, QT_8bit): one 8-bit code
    * per DIMENSION against per-dimension trained [min, max] bounds
    * (dim bytes/vector vs PQ's m bytes), no k-means — training is a
    * single min/max scan. Production systems reach for SQ when PQ
    * recall is not enough and memory allows a byte per dimension;
    * here it completes the quantizer family (flat PQ / IVF-PQ /
    * residual IVF-PQ / SQ8). The bounds are 2×dim longs — model
    * parameters in plan literals, same class as the PQ codebooks.
    */
  final case class SqIndex private[Similarity] (
      mins: Array[Long], spans: Array[Long],
      codes: DataFrame, corpus: DataFrame)

  /** Train the per-dimension bounds and encode the corpus ONCE. All
    * arithmetic is exact integer units (encode/decode semantics in
    * [[graft.plans.SqEncodeI64]]'s scaladoc), so the build replays in
    * DuckDB as a min/max GROUP BY plus one integer-division
    * projection — full oracle, no engine-divergent float math.
    */
  def sqIndexBuild(embeddings: DataFrame): SqIndex = {
    val corpusU = pqCorpusUnits(embeddings)
    val bounds = corpusU
      .select(posexplode(col("un")).as(Seq("dim", "u")))
      .groupBy("dim").agg(min("u").as("vmin"), max("u").as("vmax"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    val codes = corpusU
      .select(col("vec_id"),
        graft.plans.ScalarQuant.sqEncode(col("un"),
          bounds.map(_._2), bounds.map(t => t._3 - t._2)).as("codes"))
      .honestCheckpoint()
    corpusU.releaseCheckpoint() // encoded and superseded by the codes
    SqIndex(bounds.map(_._2), bounds.map(t => t._3 - t._2), codes, vectors(embeddings))
  }

  /** Two-phase SQ search ([[twoPhase]]): the query's normalized
    * units against the codes through [[sqDistance]]. At 100 TB the
    * candidate scan reads dim bytes/vector of codes.
    */
  def sqSearch(index: SqIndex, queries: DataFrame, k: Int = 5, rerank: Int = 50,
               excludeSelf: Boolean = false): DataFrame =
    twoPhase(index.codes, flatQueries(queries, normalizedUnits.as("qun")),
      sqDistance(index.mins, index.spans), index.corpus, k, rerank, excludeSelf)

  /** The SQ kinds' candidate distance: the fused asymmetric integer
    * L2 of the query units `qun` against the `codes`
    * ([[graft.plans.SqAdcL2I64]] — decode inlined, nothing
    * materialized).
    */
  private def sqDistance(mins: Array[Long], spans: Array[Long]): Column =
    graft.plans.ScalarQuant.sqAdcL2(col("qun"), col("codes"), mins, spans)

  /** SQ8 ANN as one query: train bounds + encode + two-phase search.
    * Deterministic integer units end-to-end → full DuckDB oracle.
    */
  def annSq(embeddings: DataFrame, queries: Option[DataFrame] = None,
            k: Int = 5, rerank: Int = 50,
            queriesAreCorpusDerived: Option[Boolean] = None): DataFrame = {
    val index = sqIndexBuild(embeddings)
    val (qs, self) = querySet(embeddings, queries, queriesAreCorpusDerived)
    sqSearch(index, qs, k, rerank, excludeSelf = self)
  }

  /** Serve from a frozen SQ8 index ([[SqKind]]: the codes a serve
    * scans, the 2×dim bounds in the meta row) — bit-identical to
    * [[annSq]] (integer units survive the parquet round trip), so it
    * shares ann_sq's oracle.
    */
  def annSqServed(embeddings: DataFrame, indexDir: String, k: Int = 5,
                  rerank: Int = 50): DataFrame = {
    sqSearch(served(SqKind, indexDir, "sq8", embeddings)(sqIndexBuild(embeddings)),
      defaultQueries(embeddings), k, rerank, excludeSelf = true)
  }

  /** IVF-SQ — FAISS's `IndexIVFScalarQuantizer` (by_residual=false),
    * the remaining cell of the quantizer matrix (IVF × {flat, PQ,
    * residual-PQ, SQ}): the coarse Lloyd cell prune of [[annIvfPq]]
    * composed with the SQ8 per-dimension codes of [[annSq]]. The
    * corpus is assigned and SQ-encoded once; a query probes its
    * `nprobe` nearest cells and the fused asymmetric integer
    * distance ([[graft.plans.SqAdcL2I64]]) ranks ONLY those cells'
    * codes (candidates ≈ nprobe/nlist of the corpus — the cell prune
    * that removes flat SQ's linear ADC term). Where IVF-PQ spends m
    * bytes/vector for maximum compression, IVF-SQ spends dim
    * bytes/vector for SQ8's measured recall@5 = 1.000 — the layout
    * for corpora that need both the cell prune AND near-exact
    * candidate order. All-integer-units end-to-end → FULL DuckDB
    * oracle (Lloyd chain + q_probe + the SQ chain restricted to the
    * probed cells).
    */
  def annIvfSq(embeddings: DataFrame, queries: Option[DataFrame] = None,
               k: Int = 5, nlist: Int = 8, ivfIters: Int = 3,
               rerank: Int = 50, nprobe: Int = 1,
               queriesAreCorpusDerived: Option[Boolean] = None): DataFrame = {
    val index = ivfSqIndexBuild(embeddings, nlist, ivfIters)
    val (qs, self) = querySet(embeddings, queries, queriesAreCorpusDerived)
    ivfSqSearch(index, qs, k, rerank, nprobe, excludeSelf = self)
  }

  /** A trained, materialized IVF-SQ index: per-dimension SQ8 bounds
    * + coarse-quantizer centroids (both bounded driver-side model
    * parameters) and the cell-labeled codes table.
    */
  final case class IvfSqIndex private[Similarity] (
      mins: Array[Long], spans: Array[Long],
      centroids: Seq[Array[Long]],
      codes: DataFrame, corpus: DataFrame)

  /** Train the coarse quantizer + SQ8 bounds and encode/label the
    * corpus ONCE — the index-build half of [[annIvfSq]].
    */
  def ivfSqIndexBuild(embeddings: DataFrame, nlist: Int = 8,
                      ivfIters: Int = 3): IvfSqIndex = {
    val (centroids, corpusA) = trainAssign(embeddings, nlist, ivfIters)
    val sq = sqIndexBuild(embeddings)
    val codes = sq.codes.join(
      corpusA.select(col("vec_id"), col("cluster").as("label")), "vec_id")
    IvfSqIndex(sq.mins, sq.spans, centroids, codes, vectors(embeddings))
  }

  /** Search a trained [[IvfSqIndex]] — the serve half of
    * [[annIvfSq]]: [[sqSearch]] over the probed cells.
    */
  def ivfSqSearch(index: IvfSqIndex, queries: DataFrame, k: Int = 5,
                  rerank: Int = 50, nprobe: Int = 1,
                  excludeSelf: Boolean = false): DataFrame =
    twoPhase(index.codes,
      probedQueries(queries, index.centroids, nprobe, normalizedUnits.as("qun")),
      sqDistance(index.mins, index.spans), index.corpus, k, rerank, excludeSelf)

  /** Serve from a frozen IVF-SQ index ([[IvfSqKind]]: cell-labeled
    * codes; the 2×dim bounds and the centroids in the meta row) —
    * bit-identical to [[annIvfSq]] (integer units survive the parquet
    * round trip), so it shares ann_ivfsq's oracle.
    */
  def annIvfSqServed(embeddings: DataFrame, indexDir: String, k: Int = 5,
                     rerank: Int = 50, nprobe: Int = 1): DataFrame = {
    ivfSqSearch(served(IvfSqKind, indexDir, "ivfsq;nlist=8;ivfIt=3", embeddings)(
        ivfSqIndexBuild(embeddings)),
      defaultQueries(embeddings), k, rerank, nprobe, excludeSelf = true)
  }

  /** A binary-quantization index — the FAISS `IndexBinaryFlat`
    * analog, the quantizer family's 1-bit-per-dimension extreme
    * (PQ m bytes / SQ dim bytes / BQ dim BITS per vector): each
    * component contributes its SIGN bit, 32 bits packed per Long
    * word ([[graft.plans.SignPack32I64]] — why 32 and not 64 is an
    * oracle-portability argument in that kernel's scaladoc), and
    * candidates rank by Hamming distance (popcount of XOR — the
    * cheapest distance a scan can compute; at 64 dims a signature is
    * ONE 16-byte array row vs 256 bytes of floats, a 16× scan-byte
    * reduction before the exact re-rank). Production fit: binary
    * embeddings (sign of a random projection or of a learned
    * rotation) as the first-pass filter over billions of vectors.
    */
  final case class BqIndex private[Similarity] (
      sigs: DataFrame, corpus: DataFrame)

  /** Pack the corpus sign signatures ONCE — a single map pass, no
    * training (BQ has no trained parameters; the "model" is the
    * packing convention itself, frozen by the kernel + oracle).
    */
  def bqIndexBuild(embeddings: DataFrame): BqIndex = {
    import graft.plans.BinarySig.signPack
    BqIndex(
      embeddings.select(col("vec_id"), signPack(col("embedding")).as("sig"))
        .honestCheckpoint(),
      vectors(embeddings))
  }

  /** Search a [[BqIndex]] ([[twoPhase]]): the Hamming distance of
    * the query's signature to each scanned one.
    */
  def bqSearch(index: BqIndex, queries: DataFrame, k: Int = 5, rerank: Int = 20,
               excludeSelf: Boolean = false): DataFrame =
    twoPhase(index.sigs, flatQueries(queries, querySig), hamming, index.corpus, k, rerank,
      excludeSelf)

  /** The BQ kinds' query side: the query's packed sign signature. */
  private def querySig: Column = graft.plans.BinarySig.signPack(col("embedding")).as("qsig")

  /** The BQ kinds' candidate distance: popcount of XOR. */
  private def hamming: Column = graft.plans.BinarySig.hammingPacked(col("sig"), col("qsig"))

  /** One-shot build + search — the `ann_bq` query. */
  def annBq(embeddings: DataFrame, queries: Option[DataFrame] = None,
            k: Int = 5, rerank: Int = 20,
            queriesAreCorpusDerived: Option[Boolean] = None): DataFrame = {
    val index = bqIndexBuild(embeddings)
    val (qs, self) = querySet(embeddings, queries, queriesAreCorpusDerived)
    bqSearch(index, qs, k, rerank, excludeSelf = self)
  }

  /** Serve from a frozen BQ index ([[BqKind]]: the signature table a
    * serve scans — dim/8 bytes per vector — and a meta row with no
    * model, BQ's encode being parameter-free) — bit-identical to [[annBq]], so it shares ann_bq's oracle.
    */
  def annBqServed(embeddings: DataFrame, indexDir: String, k: Int = 5,
                  rerank: Int = 20): DataFrame = {
    bqSearch(served(BqKind, indexDir, "bq;w=32", embeddings)(bqIndexBuild(embeddings)),
      defaultQueries(embeddings), k, rerank, excludeSelf = true)
  }

  /** A residual binary-quantization index — the recall fix for flat
    * BQ's 1-bit-per-dim floor (recall@5 0.64 vs SQ8's 1.00): TWO
    * rounds of scaled sign quantization plus ASYMMETRIC scoring.
    * Round 1 approximates the units vector as α·σ1 (σ1 = sign bits,
    * α = the integer half-up mean |u|); round 2 sign-quantizes the
    * integer residual r = u − α·σ1 as β·σ2. A candidate's score
    * against a FULL-PRECISION query is the exact integer dot with
    * the reconstruction α·σ1 + β·σ2 = α·Σσ1ᵢqᵢ + β·Σσ2ᵢqᵢ — two
    * [[graft.plans.SignDotPackedI64]] kernel calls per scanned row
    * (the query is never quantized: the asymmetric-distance
    * refinement of Gordo et al., the same move ADC makes for PQ).
    * Storage: 2 bits/dim + two Longs — 32 bytes/vector at 64 dims vs
    * BQ's 16 and SQ8's 64. Everything is exact integer units, so the
    * whole search carries a FULL DuckDB oracle, and the recall spec
    * pins residual-BQ > flat BQ at equal rerank on the gate corpus.
    *
    * Overflow proof (engine-wide bound |e| < 0.6 → |u| < 6e7,
    * dim = 64): |Σσq| ≤ 64·6e7 = 3.9e9; α < 6e7 so α·Σσ1q < 2.4e17;
    * |r| ≤ |u| + α < 1.2e8 so β·Σσ2q < 4.7e17; the two-term sum is
    * < 1e18, inside Long by a 9× margin.
    */
  final case class BqResidualIndex private[Similarity] (
      sigs: DataFrame, corpus: DataFrame)

  /** Encode the corpus ONCE — one scan: quantize to units, derive
    * (α, σ1, r, β, σ2) per row. The per-row means/residuals are
    * interpreted HOF lambdas, which is fine HERE (one encode pass at
    * build time, dim-bounded work per row) — the SERVE path touches
    * only the packed words + two scales through codegen kernels.
    */
  def bqResidualIndexBuild(embeddings: DataFrame): BqResidualIndex = {
    import graft.plans.BinarySig.signPackUnits
    val enc = embeddings
      .select(col("vec_id"), units(col("embedding")).as("u"))
      .withColumn("alpha", halfUpMeanAbs("u"))
      .withColumn("r", transform(col("u"),
        x => x - when(x >= 0, col("alpha")).otherwise(-col("alpha"))))
      .withColumn("beta", halfUpMeanAbs("r"))
      .select(col("vec_id"), signPackUnits(col("u")).as("s1"),
        signPackUnits(col("r")).as("s2"), col("alpha"), col("beta"))
      .honestCheckpoint()
    BqResidualIndex(enc, vectors(embeddings))
  }

  /** Integer half-up mean of |xᵢ| over an array<long> — the scale
    * step of both residual-BQ rounds (a nonnegative numerator, so the
    * unsigned form).
    */
  private def halfUpMeanAbs(name: String): Column =
    halfUpDiv(s"aggregate($name, CAST(0 AS BIGINT), (acc, x) -> acc + abs(x))",
      s"CAST(size($name) AS BIGINT)")

  /** Search a [[BqResidualIndex]] ([[twoPhase]]): the candidate
    * distance is the NEGATED asymmetric two-term integer score
    * (higher score is nearer), exact under negation by the class
    * doc's |score| < 1e18 bound.
    */
  def bqResidualSearch(index: BqResidualIndex, queries: DataFrame, k: Int = 5,
                       rerank: Int = 20, excludeSelf: Boolean = false): DataFrame = {
    import graft.plans.BinarySig.signDotPacked
    val score = col("alpha") * signDotPacked(col("qu"), col("s1")) +
      col("beta") * signDotPacked(col("qu"), col("s2"))
    twoPhase(index.sigs, flatQueries(queries, units(col("embedding")).as("qu")), -score,
      index.corpus, k, rerank, excludeSelf)
  }

  /** One-shot build + search — the `ann_bq_residual` query. */
  def annBqResidual(embeddings: DataFrame, queries: Option[DataFrame] = None,
                    k: Int = 5, rerank: Int = 20,
                    queriesAreCorpusDerived: Option[Boolean] = None): DataFrame = {
    val index = bqResidualIndexBuild(embeddings)
    val (qs, self) = querySet(embeddings, queries, queriesAreCorpusDerived)
    bqResidualSearch(index, qs, k, rerank, excludeSelf = self)
  }

  /** A trained IVF-BQ index — the quantizer matrix's binary cell
    * (FAISS `IndexBinaryIVF` in spirit: coarse cells prune the scan,
    * binary signatures rank within the probed cells): trained float-
    * space Lloyd centroids for the cell assignment (the same coarse
    * quantizer every IVF layout here shares) + the cell-labeled
    * signature table. Candidates per query ≈ nprobe/nlist of the
    * corpus at dim/8 BYTES per scanned row — the cheapest candidate
    * scan any layout in the family can run.
    */
  final case class IvfBqIndex private[Similarity] (
      centroids: Seq[Array[Long]],
      sigs: DataFrame, corpus: DataFrame)

  /** Train the coarse quantizer and pack/label the corpus ONCE. */
  def ivfBqIndexBuild(embeddings: DataFrame, nlist: Int = 8,
                      ivfIters: Int = 3): IvfBqIndex = {
    import graft.plans.BinarySig.signPack
    val (centroids, corpusA) = trainAssign(embeddings, nlist, ivfIters)
    val sigs = corpusA
      .select(col("vec_id"), signPack(col("embedding")).as("sig"),
        col("cluster").as("label"))
      .honestCheckpoint()
    corpusA.releaseSources() // the corpus checkpoint, superseded by sigs
    IvfBqIndex(centroids, sigs, vectors(embeddings))
  }

  /** Search a trained [[IvfBqIndex]]: [[bqSearch]] over the probed
    * cells' signatures.
    */
  def ivfBqSearch(index: IvfBqIndex, queries: DataFrame, k: Int = 5,
                  rerank: Int = 20, nprobe: Int = 1,
                  excludeSelf: Boolean = false): DataFrame =
    twoPhase(index.sigs, probedQueries(queries, index.centroids, nprobe, querySig), hamming,
      index.corpus, k, rerank, excludeSelf)

  /** One-shot build + search — the `ann_ivfbq` query. */
  def annIvfBq(embeddings: DataFrame, queries: Option[DataFrame] = None,
               k: Int = 5, nlist: Int = 8, ivfIters: Int = 3,
               rerank: Int = 20, nprobe: Int = 1,
               queriesAreCorpusDerived: Option[Boolean] = None): DataFrame = {
    val index = ivfBqIndexBuild(embeddings, nlist, ivfIters)
    val (qs, self) = querySet(embeddings, queries, queriesAreCorpusDerived)
    ivfBqSearch(index, qs, k, rerank, nprobe, excludeSelf = self)
  }

  /** Serve from a frozen IVF-BQ index ([[IvfBqKind]]: cell-labeled
    * signatures, centroids in the meta row) — bit-identical to
    * [[annIvfBq]] (sign bits and Lloyd labels survive the parquet
    * round trip), so it shares ann_ivfbq's oracle.
    */
  def annIvfBqServed(embeddings: DataFrame, indexDir: String, k: Int = 5,
                     rerank: Int = 20, nprobe: Int = 1): DataFrame = {
    ivfBqSearch(served(IvfBqKind, indexDir, "ivfbq;nlist=8;ivfIt=3;w=32", embeddings)(
        ivfBqIndexBuild(embeddings)),
      defaultQueries(embeddings), k, rerank, nprobe, excludeSelf = true)
  }

  /** The nine frozen-index kinds of [[FrozenIndex]]: each declares
    * its layout version, payload table and model columns once, and
    * binds a committed meta row and its payload back to its index.
    * Versions are per kind — a layout change bumps only the kind whose
    * layout changed (an engine-wide bump once invalidated every
    * on-disk index whose bytes had not changed: at 100 TB a silent
    * full-fleet rebuild). Every kind moved its model into the meta
    * row and records its payload schema there, so each bumped once
    * (IVF-PQ 6 → 7, OPQ 1 → 2, the others 5 → 6): a directory of the
    * previous layout reads as absent and is rebuilt.
    */
  /** The assignment table is written `partitionBy(cluster)`, so a
    * probe against the LOADED index joins a cluster-partitioned fact
    * with a broadcast batch side — the shape Spark's dynamic partition
    * pruning exists for — where the in-memory checkpoint could only
    * ever scan everything. The centroids ride the meta row.
    */
  private[graft] object SemanticKind extends FrozenIndex.Kind[SemanticIndex](
      6, "assigned.parquet", "centroids" -> FrozenIndex.cells) {
    override def partitionBy: Option[String] = Some("cluster")
    def model(ix: SemanticIndex): Seq[Any] = Seq(ix.centroids.map(_.toSeq))
    def payloadOf(ix: SemanticIndex): DataFrame = ix.assigned
    def bind(meta: Row, assigned: DataFrame, corpus: DataFrame): SemanticIndex =
      SemanticIndex(FrozenIndex.cellsOf(meta, "centroids"), assigned)
  }

  /** The flat semantic layout — the cluster-partitioned assignment,
    * the serve-side pruning shape — with k2 and the coarse centroids
    * in the meta row, and the fine model as per-coarse-cell centroid
    * lists ([[fineCells]]' layout: fine id = position, a dead cell
    * empty).
    */
  private[graft] object HierKind extends FrozenIndex.Kind[HierSemanticIndex](
      6, "assigned.parquet", "k2" -> IntegerType, "coarse" -> FrozenIndex.cells,
      "fine" -> FrozenIndex.books) {
    override def partitionBy: Option[String] = Some("cluster")
    def model(ix: HierSemanticIndex): Seq[Any] = Seq(ix.k2, ix.coarse.map(_.toSeq),
      fineCells(ix.coarse.size, ix.fine).map(_.map(_.toSeq)))
    def payloadOf(ix: HierSemanticIndex): DataFrame = ix.assigned
    def bind(meta: Row, assigned: DataFrame, corpus: DataFrame): HierSemanticIndex = {
      val fine = FrozenIndex.booksOf(meta, "fine").zipWithIndex.flatMap { case (cell, c) =>
        cell.zipWithIndex.map { case (cu, f) => (c.toLong, f.toLong, cu.toSeq) }
      }
      HierSemanticIndex(FrozenIndex.cellsOf(meta, "coarse"), fine, meta.getAs[Int]("k2"), assigned)
    }
  }

  /** `codes` is the payload (9 bytes/vector, the candidate scan's
    * only input), the m×cb×dsub codebook units and `m` ride the meta
    * row. The raw corpus is NOT copied — it is the source table,
    * re-bound at load — and every serve still reads all of it for
    * the exact re-rank ([[twoPhase]]).
    * A loaded index answers BIT-EXACT like the freshly built one
    * (integer units end-to-end) — spec-gated.
    */
  private[graft] object PqKind extends FrozenIndex.Kind[PqIndex](
      6, "codes.parquet", "m" -> IntegerType, "codebooks" -> FrozenIndex.books) {
    def model(ix: PqIndex): Seq[Any] = Seq(ix.m, bookUnits(ix.codebooks))
    def payloadOf(ix: PqIndex): DataFrame = ix.codes
    def bind(meta: Row, codes: DataFrame, corpus: DataFrame): PqIndex =
      PqIndex(FrozenIndex.booksOf(meta, "codebooks"), codes, vectors(corpus), meta.getAs[Int]("m"))
  }

  /** The rotation rides as the Hadamard pre-signs and one signed
    * permutation (`perms` row, `psigns` row) per refinement round.
    */
  private[graft] object OpqKind extends FrozenIndex.Kind[OpqIndex](
      2, "codes.parquet", "m" -> IntegerType, "codebooks" -> FrozenIndex.books,
      "signs" -> FrozenIndex.longs, "perms" -> FrozenIndex.cells, "psigns" -> FrozenIndex.cells) {
    def model(ix: OpqIndex): Seq[Any] = Seq(ix.m, bookUnits(ix.codebooks), ix.signs,
      ix.perms.map(_._1.toSeq.map(_.toLong)), ix.perms.map(_._2.toSeq))
    def payloadOf(ix: OpqIndex): DataFrame = ix.codes
    def bind(meta: Row, codes: DataFrame, corpus: DataFrame): OpqIndex =
      OpqIndex(FrozenIndex.longsOf(meta, "signs").toSeq,
        FrozenIndex.cellsOf(meta, "perms").map(_.map(_.toInt))
          .zip(FrozenIndex.cellsOf(meta, "psigns")),
        FrozenIndex.booksOf(meta, "codebooks"), codes, vectors(corpus), meta.getAs[Int]("m"))
  }

  private[graft] object SqKind extends FrozenIndex.Kind[SqIndex](
      6, "codes.parquet", "mins" -> FrozenIndex.longs, "spans" -> FrozenIndex.longs) {
    def model(ix: SqIndex): Seq[Any] = Seq(ix.mins.toSeq, ix.spans.toSeq)
    def payloadOf(ix: SqIndex): DataFrame = ix.codes
    def bind(meta: Row, codes: DataFrame, corpus: DataFrame): SqIndex =
      SqIndex(FrozenIndex.longsOf(meta, "mins"), FrozenIndex.longsOf(meta, "spans"),
        codes, vectors(corpus))
  }

  private[graft] object IvfSqKind extends FrozenIndex.Kind[IvfSqIndex](
      6, "codes.parquet", "mins" -> FrozenIndex.longs, "spans" -> FrozenIndex.longs,
      "centroids" -> FrozenIndex.cells) {
    def model(ix: IvfSqIndex): Seq[Any] =
      Seq(ix.mins.toSeq, ix.spans.toSeq, ix.centroids.map(_.toSeq))
    def payloadOf(ix: IvfSqIndex): DataFrame = ix.codes
    def bind(meta: Row, codes: DataFrame, corpus: DataFrame): IvfSqIndex =
      IvfSqIndex(FrozenIndex.longsOf(meta, "mins"), FrozenIndex.longsOf(meta, "spans"),
        FrozenIndex.cellsOf(meta, "centroids"), codes, vectors(corpus))
  }

  /** BQ's encode is parameter-free: no model columns. */
  private[graft] object BqKind extends FrozenIndex.Kind[BqIndex](6, "sigs.parquet") {
    def model(ix: BqIndex): Seq[Any] = Nil
    def payloadOf(ix: BqIndex): DataFrame = ix.sigs
    def bind(meta: Row, sigs: DataFrame, corpus: DataFrame): BqIndex =
      BqIndex(sigs, vectors(corpus))
  }

  private[graft] object IvfBqKind extends FrozenIndex.Kind[IvfBqIndex](
      6, "sigs.parquet", "centroids" -> FrozenIndex.cells) {
    def model(ix: IvfBqIndex): Seq[Any] = Seq(ix.centroids.map(_.toSeq))
    def payloadOf(ix: IvfBqIndex): DataFrame = ix.sigs
    def bind(meta: Row, sigs: DataFrame, corpus: DataFrame): IvfBqIndex =
      IvfBqIndex(FrozenIndex.cellsOf(meta, "centroids"), sigs, vectors(corpus))
  }

  /** Both IVF-PQ layouts: the labeled codes, with the codebooks and
    * centroids in 1e-8 units and the `residual` flag in the meta row,
    * so a loader can never decode residual codes through the
    * raw-vector search or the reverse. Results are bit-identical to
    * [[annIvfPq]] (integer units end-to-end), so `ann_ivfpq_served`
    * shares ann_ivfpq's oracle.
    */
  private[graft] object IvfPqKind extends FrozenIndex.Kind[IvfPqIndex](
      7, "codes.parquet", "m" -> IntegerType, "residual" -> BooleanType,
      "codebooks" -> FrozenIndex.books, "centroids" -> FrozenIndex.cells) {
    def model(ix: IvfPqIndex): Seq[Any] =
      Seq(ix.m, ix.residual, bookUnits(ix.codebooks), ix.centroids.map(_.toSeq))
    def payloadOf(ix: IvfPqIndex): DataFrame = ix.codes
    def bind(meta: Row, codes: DataFrame, corpus: DataFrame): IvfPqIndex =
      IvfPqIndex(FrozenIndex.booksOf(meta, "codebooks"), FrozenIndex.cellsOf(meta, "centroids"),
        codes, vectors(corpus), meta.getAs[Int]("m"), meta.getAs[Boolean]("residual"))
  }

  private def bookUnits(books: IndexedSeq[IndexedSeq[Array[Long]]]): Seq[Seq[Seq[Long]]] =
    books.map(_.map(_.toSeq))

  /** The (vec_id, embedding) corpus a search re-ranks on. */
  private def vectors(corpus: DataFrame): DataFrame =
    corpus.select(col("vec_id"), col("embedding"))

  /** Zero-scan content stamp of a frame's file-backed source: an MD5
    * over the sorted (path, byte length, modification time) of its
    * input files — FS metadata only, no data read. Served entries
    * fold this into their build-parameter fingerprint so a
    * regenerated corpus with an unchanged ROW COUNT still reads as
    * index drift and rebuilds instead of serving stale; what remains
    * is only an in-place rewrite preserving every file's byte length
    * AND mtime, which no parquet writer performs. Non-file sources
    * (an in-memory frame) stamp as "mem" — for those the count check
    * is the only corpus guard.
    */
  private[graft] def sourceStamp(df: DataFrame): String = {
    val files = df.inputFiles
    if (files.isEmpty) "mem"
    else {
      val conf = df.sparkSession.sparkContext.hadoopConfiguration
      val parts = files.sorted.map { f =>
        val p = new org.apache.hadoop.fs.Path(f)
        val st = p.getFileSystem(conf).getFileStatus(p)
        s"$f:${st.getLen}:${st.getModificationTime}"
      }
      java.security.MessageDigest.getInstance("MD5")
        .digest(parts.mkString("\n").getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(16)
    }
  }

  /** IVF-PQ composite search — the billion-vector layout: the trained
    * Lloyd coarse quantizer ([[lloyd]], raw-vector integer units)
    * restricts each query to its own cell (1/nlist of the corpus),
    * and within the cell ranking reads PQ CODES only (global
    * codebooks on normalized vectors, like [[annPq]]). At 100 TB the
    * scan touches `codes`+`label` (9 bytes/vector) for nprobe/nlist
    * of the corpus — the two
    * pruning axes compose multiplicatively, and `nprobe` (the
    * [[nearestCells]] recall knob) trades candidate volume back
    * for recall when cells are imbalanced. (Production refinement — per-cell
    * RESIDUAL codebooks — changes the trained model, not the plan
    * shape.)
    *
    * Every stage is exact integer units, so the whole search replays
    * as the Lloyd CTE chain + the PQ CTE chain joined on the cell
    * filter → full DuckDB oracle.
    */
  def annIvfPq(embeddings: DataFrame, queries: Option[DataFrame] = None,
               k: Int = 5, nlist: Int = 8, ivfIters: Int = 3,
               m: Int = 8, codebookSize: Int = 8, pqIters: Int = 3,
               rerank: Int = 50, nprobe: Int = 1,
               queriesAreCorpusDerived: Option[Boolean] = None): DataFrame = {
    val index = ivfPqIndexBuild(embeddings, nlist, ivfIters, m, codebookSize, pqIters)
    val (qs, self) = querySet(embeddings, queries, queriesAreCorpusDerived)
    ivfPqSearch(index, qs, k, rerank, nprobe, excludeSelf = self)
  }

  /** A trained, materialized IVF-PQ index: coarse quantizer
    * centroids + PQ codebooks (both bounded driver-side model
    * parameters) and the labeled codes table — the full
    * billion-vector serving layout. `residual = true` marks the
    * [[ivfPqResidualIndexBuild]] layout (normalized-units cells,
    * codebooks trained on per-cell residuals): the two layouts share
    * storage but DECODE differently, so the flag rides the index —
    * and its persisted meta — and each search half requires the
    * layout it understands.
    */
  final case class IvfPqIndex private[Similarity] (
      codebooks: IndexedSeq[IndexedSeq[Array[Long]]],
      centroids: Seq[Array[Long]],
      codes: DataFrame, corpus: DataFrame, m: Int,
      residual: Boolean = false)

  /** Train the coarse quantizer + codebooks and encode/label the
    * corpus ONCE — the index-build half of [[annIvfPq]]. Both trainers
    * read ONE (vec_id, u, un) checkpoint (raw units for the cells,
    * normalized units for PQ, spread like [[corpusFrame]]) and share
    * ONE init collect of the first max(nlist, cb) rows in md5 order.
    * The codes are one projection over the same checkpoint: the PQ
    * code kernel over `un` and the coarse argmin of `u` as `label`.
    */
  def ivfPqIndexBuild(embeddings: DataFrame, nlist: Int = 8, ivfIters: Int = 3,
                      m: Int = 8, codebookSize: Int = 8, pqIters: Int = 3): IvfPqIndex = {
    val dsub = pqDsub(m)
    val vecs = ivfPqUnits(spreadForK(vectors(embeddings), nlist))
      .honestCheckpoint()
    val init = initRows(vecs, math.max(nlist, codebookSize), "u", "un")
    val centroids = lloyd(vecs, "u", unitsOf(init.take(nlist), 0), ivfIters)
    val codebooks = pqTrainFrom(vecs, "un", unitsOf(init.take(codebookSize), 1),
      m, codebookSize, pqIters, dsub)
    IvfPqIndex(codebooks, centroids, ivfPqCodes(vecs, codebooks, dsub, cellOf(centroids)),
      vectors(embeddings), m)
  }

  /** The raw layout's working frame: (vec_id, u, un) — raw units for
    * the coarse cells, normalized units for PQ.
    */
  private def ivfPqUnits(df: DataFrame): DataFrame =
    df.select(col("vec_id"), units(col("embedding")).as("u"), normalizedUnits.as("un"))

  /** The raw layout's coarse cell of each row: the argmin centroid of
    * its units `u`, or null under no centroids (an empty training
    * corpus — no query has a cell either).
    */
  private def cellOf(centroids: Seq[Array[Long]]): Column =
    if (centroids.isEmpty) lit(null).cast("long")
    else graft.plans.ArgminL2.argminUnits(col("u"), centroids).getItem(0).getField("cluster")

  /** (vec_id, codes, label) code rows as ONE projection over a frame
    * with `vec_id` and the PQ units `un`: the fused code kernel over
    * `un` beside the row's cell, for both IVF-PQ layouts' build and
    * append.
    */
  private def ivfPqCodes(vecs: DataFrame, books: IndexedSeq[IndexedSeq[Array[Long]]],
                         dsub: Int, label: Column): DataFrame =
    vecs.select(col("vec_id"),
      graft.plans.PqQuant.pqEncodeCodes(col("un"), books, dsub).as("codes"), label.as("label"))

  /** Search a trained [[IvfPqIndex]] with any (vec_id, embedding)
    * query frame — the serve half of [[annIvfPq]], same math.
    */
  def ivfPqSearch(index: IvfPqIndex, queries: DataFrame, k: Int = 5,
                  rerank: Int = 50, nprobe: Int = 1,
                  excludeSelf: Boolean = false): DataFrame = {
    require(!index.residual,
      "this index holds residual codebooks — search it with ivfPqResidualSearch")
    twoPhase(index.codes, probedQueries(queries, index.centroids, nprobe,
        pqQTableOf(index.codebooks, pqDsub(index.m))),
      adcDistance(index.m), index.corpus, k, rerank, excludeSelf)
  }

  /** Residual IVF-PQ — the refinement production IVF-PQ systems
    * actually ship (FAISS's IndexIVFPQ default): PQ codebooks are
    * trained on RESIDUALS r = u − c(u) (the normalized vector minus
    * its cell centroid) instead of raw vectors. Residuals concentrate
    * near the origin with far less cross-cell variance, so the same
    * 8×8 codebook budget spends its resolution on WITHIN-cell
    * structure — the quantization error that actually decides
    * candidate order inside a probed cell. The coarse quantizer here
    * trains on the NORMALIZED units too (cosine ranking truth —
    * residuals must live in the same space as the PQ codes), unlike
    * [[annIvfPq]]'s raw-vector cells.
    *
    * Search: each (query, probed cell) pair builds its OWN ADC table
    * from the query's residual against that cell — nprobe small
    * tables per query, the standard residual-IVFPQ query cost.
    *
    * Every stage stays in exact integer units (residual subtraction
    * is Long arithmetic; |r| ≤ 4e8 keeps 8-dim squared sums below
    * 1.3e18 ≪ Long.Max), so the whole search replays as a DuckDB
    * CTE chain: normalized Lloyd → per-cell residuals → the joint
    * PQ chain over residuals → per-(query, cell) ADC tables.
    */
  def annIvfPqResidual(embeddings: DataFrame, queries: Option[DataFrame] = None,
                       k: Int = 5, nlist: Int = 8, ivfIters: Int = 3,
                       m: Int = 8, codebookSize: Int = 8, pqIters: Int = 3,
                       rerank: Int = 50, nprobe: Int = 1,
                       queriesAreCorpusDerived: Option[Boolean] = None): DataFrame = {
    val index = ivfPqResidualIndexBuild(embeddings, nlist, ivfIters, m, codebookSize, pqIters)
    val (qs, self) = querySet(embeddings, queries, queriesAreCorpusDerived)
    ivfPqResidualSearch(index, qs, k, rerank, nprobe, excludeSelf = self)
  }

  /** Cell centroid as a label-dispatched plan literal (nlist × dim
    * longs — bounded model parameters, like the codebooks). No
    * centroids (an empty training corpus) is a null: no row has a
    * cell to ask for.
    */
  private def centroidOf(centroids: Seq[Array[Long]], label: Column): Column =
    if (centroids.isEmpty) lit(null).cast("array<long>")
    else centroids.indices.init.foldRight(lit(centroids.last)) { (i, rest) =>
      when(label === i, lit(centroids(i))).otherwise(rest)
    }

  /** Train the residual layout ONCE — the index-build half of
    * [[annIvfPqResidual]]: normalized-units Lloyd cells, per-cell
    * residual subtraction, joint PQ codebooks over residuals, codes
    * labeled with their cell. Same math as the composed operator —
    * the split exists so the trained model can freeze to disk
    * ([[IvfPqKind]]) and serve without retraining.
    */
  def ivfPqResidualIndexBuild(embeddings: DataFrame, nlist: Int = 8, ivfIters: Int = 3,
                              m: Int = 8, codebookSize: Int = 8,
                              pqIters: Int = 3): IvfPqIndex = {
    val dsub = pqDsub(m)
    val corpusU = pqCorpusUnits(embeddings)
    val centroids = lloyd(corpusU, "un", unitsOf(initRows(corpusU, nlist, "un"), 0), ivfIters)
    // residual frame, materialized once: the zip_with subtraction is
    // an interpreted HOF, and the PQ init, every training step and
    // the encode read the residuals — same rationale as pqCorpusUnits.
    val rx = residuals(corpusU, centroids).honestCheckpoint()
    corpusU.releaseCheckpoint() // trained on and superseded by rx
    val books = pqTrainCodebooks(rx.select(col("vec_id"), col("un")), m, codebookSize,
      pqIters, dsub)
    IvfPqIndex(books, centroids, ivfPqCodes(rx, books, dsub, col("label")),
      vectors(embeddings), m, residual = true)
  }

  /** The residual layout's rows of a (vec_id, un) frame as one
    * projection: (vec_id, un, label) with `label` the row's nearest
    * cell ([[nearestCells]]) and `un` its residual against that
    * cell's centroid. No centroids give no rows.
    */
  private def residuals(corpusU: DataFrame, centroids: Seq[Array[Long]]): DataFrame =
    nearestCells(corpusU, "un", centroids)
      .select(col("vec_id"),
        zip_with(col("un"), centroidOf(centroids, col("cluster")), (a, b) => a - b).as("un"),
        col("cluster").as("label"))

  /** Search a residual-trained [[IvfPqIndex]] — the serve half of
    * [[annIvfPqResidual]]: each (query, probed cell) pair builds its
    * OWN ADC table from the query's residual against that cell's
    * centroid (the standard residual-IVFPQ query cost).
    */
  def ivfPqResidualSearch(index: IvfPqIndex, queries: DataFrame, k: Int = 5,
                          rerank: Int = 50, nprobe: Int = 1,
                          excludeSelf: Boolean = false): DataFrame = {
    require(index.residual,
      "this index holds raw-vector codebooks — search it with ivfPqSearch")
    // one row per (query, probed cell), each with its OWN residual
    // ADC table against that cell's centroid
    val qres = zip_with(col("un"), centroidOf(index.centroids, col("cluster")), (a, b) => a - b)
    val qs = nearestCells(queries.select(col("vec_id"), col("embedding"), normalizedUnits.as("un")),
        "un", index.centroids, nprobe)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"), col("cluster").as("qlabel"),
        graft.plans.PqQuant.pqQTable(qres, index.codebooks, pqDsub(index.m)).as("qtable"))
    twoPhase(index.codes, qs, adcDistance(index.m), index.corpus, k, rerank, excludeSelf)
  }

  /** Serve-from-frozen-index residual IVF-PQ — [[annIvfPqResidual]]
    * through [[FrozenIndex.served]]. Bit-identical to the direct
    * operator (integer units survive the parquet round trip), so it
    * shares ann_ivfpq_residual's oracle.
    */
  def annIvfPqResidualServed(embeddings: DataFrame, indexDir: String, k: Int = 5,
                             nprobe: Int = 1, rerank: Int = 50): DataFrame =
    ivfPqResidualSearch(ivfPqResidualIndexServed(embeddings, indexDir),
      defaultQueries(embeddings), k, rerank, nprobe, excludeSelf = true)

  /** The frozen residual [[IvfPqIndex]] at `indexDir`, built with
    * [[ivfPqResidualIndexBuild]]'s defaults, that
    * [[annIvfPqResidualServed]] and the streaming serve
    * ([[graft.streaming.SimilarityStream.ivfPqResidualServe]]) both
    * read, under one build fingerprint.
    */
  private[graft] def ivfPqResidualIndexServed(embeddings: DataFrame,
                                              indexDir: String): IvfPqIndex =
    served(IvfPqKind, indexDir, "ivfpqres;nlist=8;ivfIt=3;m=8;cb=8;pqIt=3", embeddings)(
      ivfPqResidualIndexBuild(embeddings))

  /** Encode new vectors under a FROZEN model — the shared `add()`
    * math for both IVF-PQ layouts: cell assignment with the frozen
    * coarse quantizer, then PQ encode with the frozen codebooks
    * (residual layout subtracts the cell centroid first, exactly as
    * [[ivfPqResidualIndexBuild]] does at train time). No training
    * state is touched, so the emitted (vec_id, codes, label) rows
    * are bit-identical to what a build over (old ∪ new) WITH the old
    * model would emit for the new rows.
    */
  private def ivfPqEncodeWith(index: IvfPqIndex, newVectors: DataFrame): DataFrame = {
    val dsub = pqDsub(index.m)
    // one pass over the new vectors, nothing materialized: each
    // kernel and the residual subtraction runs once per row
    if (index.residual)
      ivfPqCodes(residuals(newVectors.select(col("vec_id"), normalizedUnits.as("un")),
        index.centroids), index.codebooks, dsub, col("label"))
    else ivfPqCodes(ivfPqUnits(newVectors), index.codebooks, dsub, cellOf(index.centroids))
  }

  /** FAISS-style `add()`, in memory: a NEW index whose model
    * (centroids + codebooks) is FROZEN from `index` and whose
    * codes/corpus are extended with the new vectors — no retrain.
    * This is the reference semantics the on-disk
    * [[ivfPqIndexAppend]] is spec-pinned against. Caller guarantees
    * vec_ids don't collide with the existing corpus.
    */
  def ivfPqIndexExtended(index: IvfPqIndex, newVectors: DataFrame): IvfPqIndex =
    index.copy(
      codes = index.codes.select(col("vec_id"), col("codes"), col("label"))
        .unionByName(ivfPqEncodeWith(index, newVectors)),
      corpus = index.corpus.unionByName(vectors(newVectors)))

  /** Incremental index append — FAISS-style `add()` on disk, the
    * lifecycle step between a frozen index and a full retrain, for
    * BOTH IVF-PQ layouts: only the new vectors are encoded, under the
    * frozen model ([[ivfPqEncodeWith]]), and committed as the next
    * delta ([[FrozenIndex.append]]; a stream's batch ids are left
    * alone, so a later ingest still commits its batch 0). Without this, any corpus growth fails
    * the corpus-count fingerprint and forces a retrain; with it,
    * growth costs ∝ |delta| — the corpus is never rescanned and no
    * training runs. A killed append leaves an uncommitted delta that
    * every reader skips and the next append overwrites. Returns the
    * new corpus count recorded in meta.
    */
  def ivfPqIndexAppend(spark: SparkSession, dir: String, newVectors: DataFrame): Long =
    FrozenIndex.append(spark, IvfPqKind, dir, newVectors, None)(ivfPqEncodeWith(_, newVectors))

  /** Streaming `add()` — the exactly-once micro-batch append a
    * `foreachBatch` ingest loop calls ([[graft.streaming.SimilarityStream.ivfPqIngest]]):
    * the batch is committed as the next delta and `batchId` becomes
    * the stream's high-water mark ([[FrozenIndex.append]]), so a
    * replayed in-flight batch overwrites its own uncommitted delta and
    * a replayed committed batch is skipped. Batches must
    * commit in increasing batchId order — one streaming query per
    * index dir. Returns the committed corpus count.
    */
  def ivfPqIndexStreamAppend(spark: SparkSession, dir: String,
                             batch: DataFrame, batchId: Long): Long = {
    require(batchId >= 0, s"batchId must be >= 0, got $batchId")
    FrozenIndex.append(spark, IvfPqKind, dir, batch, Some(batchId))(ivfPqEncodeWith(_, batch))
  }

  /** FAISS-style `remove_ids` — the delete half of the incremental
    * lifecycle: drop tombstoned vectors from a frozen index WITHOUT
    * retraining (the model is per-vector independent: the surviving
    * codes are bit-identical to encoding the surviving corpus under
    * the same frozen model, so search-after-remove ≡ search over an
    * in-memory index with those rows filtered — spec-pinned).
    * `removeIds` is a (vec_id) FRAME, not a driver list: at 100 TB a
    * tombstone set is itself a table, and the anti-join keeps the
    * whole rewrite distributed. Physical compaction is inherent
    * (like FAISS): the codes are rewritten once, ∝ corpus, with the
    * committed deltas folded in, and republished through the staged
    * [[FrozenIndex.republish]]. Returns the new corpus count recorded
    * in meta.
    */
  def ivfPqIndexRemove(spark: SparkSession, dir: String, removeIds: DataFrame): Long =
    FrozenIndex.locked(dir) {
      val meta = FrozenIndex.committedMeta(spark, IvfPqKind, dir)
      val kept = FrozenIndex.payload(spark, IvfPqKind, dir, meta)
        .join(removeIds.select(col("vec_id")), Seq("vec_id"), "left_anti")
        .honestCheckpoint() // counted once, then written — don't re-run the anti-join
      val n = countRows(kept)
      FrozenIndex.republish(spark, IvfPqKind, dir, meta, kept, n)
      kept.releaseCheckpoint()
      n
    }

  /** Fold committed deltas into the base codes table
    * ([[FrozenIndex.compact]]) — the maintenance pass that keeps a
    * long-running ingest from accumulating one parquet dir per
    * micro-batch. Search results are bit-identical before and after.
    */
  def ivfPqIndexCompact(spark: SparkSession, dir: String): Unit =
    FrozenIndex.compact(spark, IvfPqKind, dir)

  /** The frozen lifecycle WITH corpus growth — the sequence
    * [[ivfPqIndexAppend]] exists for, as one oracled query: build
    * once over the BASE corpus (vec_id % 10 ≠ 0), `add()` the
    * remaining tenth with the frozen model (no retrain), publish
    * atomically, serve the full corpus. Deterministic end-to-end
    * (the base split, the seeded trainer, and the frozen-model
    * encode are all exact integer units), so the whole sequence
    * carries a full DuckDB oracle: the training CTE chains read only
    * the base rows while assignment/encode/search run over
    * everything. Results intentionally differ from [[annIvfPq]] —
    * the model never saw the appended tenth; that is the add()
    * contract being tested.
    */
  def annIvfPqAppended(embeddings: DataFrame, indexDir: String, k: Int = 5,
                       nprobe: Int = 1, rerank: Int = 50): DataFrame = {
    val base = embeddings.filter(col("vec_id") % 10 =!= 0)
    val fresh = embeddings.filter(col("vec_id") % 10 === 0)
    val params = s"ivfpq;nlist=8;ivfIt=3;m=8;cb=8;pqIt=3;base=mod10;src=${sourceStamp(embeddings)}"
    val n = countRows(embeddings)
    val index = FrozenIndex.served(IvfPqKind, indexDir, params, embeddings, n)(
      ivfPqIndexBuild(base), n - countRows(fresh),
      ivfPqIndexAppend(embeddings.sparkSession, _, fresh))
    ivfPqSearch(index, defaultQueries(embeddings), k, rerank, nprobe, excludeSelf = true)
  }

  /** The frozen lifecycle WITH tombstones — [[ivfPqIndexRemove]] as
    * one oracled query: build once over the FULL corpus, remove the
    * tombstoned fifth (vec_id % 5 = 2) from the frozen index — codes
    * filtered, model untouched, no retrain — publish, serve.
    * Deterministic end-to-end, so the sequence carries a full DuckDB
    * oracle: ann_ivfpq's training chains verbatim (the model saw the
    * whole corpus) with the candidate scan restricted to surviving
    * codes. Removed ids are unreachable by construction — they have
    * no code rows to rank. The build-if-absent fingerprint is the
    * KEPT count: repeated runs (bench, fresh JVMs) load the
    * tombstoned index and read the steady serve-only cost.
    */
  def annIvfPqRemoved(embeddings: DataFrame, indexDir: String, k: Int = 5,
                      nprobe: Int = 1, rerank: Int = 50): DataFrame = {
    val tombstones = embeddings.filter(col("vec_id") % 5 === 2).select(col("vec_id"))
    val params = s"ivfpq;nlist=8;ivfIt=3;m=8;cb=8;pqIt=3;rm=mod5eq2;src=${sourceStamp(embeddings)}"
    val nAll = countRows(embeddings)
    val index = FrozenIndex.served(IvfPqKind, indexDir, params, embeddings,
        nAll - countRows(tombstones))(
      ivfPqIndexBuild(embeddings), nAll, ivfPqIndexRemove(embeddings.sparkSession, _, tombstones))
    ivfPqSearch(index, defaultQueries(embeddings), k, rerank, nprobe, excludeSelf = true)
  }

  /** Serve-from-frozen-index batch IVF-PQ — train → save → load →
    * serve as one oracled query ([[FrozenIndex.served]]), so a
    * repeated-measure bench (and any later JVM) reads the steady
    * serve-only cost. A warm serve builds its frame with two jobs:
    * the corpus count ([[graft.plans.HonestCheckpoint.countRows]])
    * and the meta collect, which validates the index and returns its
    * model. The search's query side is one projection
    * ([[probedQueries]]).
    */
  def annIvfPqServed(embeddings: DataFrame, indexDir: String, k: Int = 5,
                     nprobe: Int = 1, rerank: Int = 50): DataFrame = {
    // ivfPqIndexBuild defaults
    val index = served(IvfPqKind, indexDir, "ivfpq;nlist=8;ivfIt=3;m=8;cb=8;pqIt=3", embeddings)(
      ivfPqIndexBuild(embeddings))
    ivfPqSearch(index, defaultQueries(embeddings), k, rerank, nprobe, excludeSelf = true)
  }

  private def pqDsub(m: Int): Int = {
    val dim = LshPlanes.dim
    require(dim % m == 0, s"dim $dim must split evenly into $m subspaces")
    dim / m
  }

  /** PQ working set: (vec_id, un) with `un` the L2-NORMALIZED vector
    * in 1e-8 integer units.
    *
    * PQ quantizes L2 space, but the ranking truth is COSINE — on
    * normalized vectors ‖u−v‖² = 2 − 2·cos(u,v) makes the ADC order
    * the cosine order. Without this the two orders disagree and
    * recall collapses (recall@5 measured 0.28 unnormalized → 0.56
    * normalized on the weakly-structured test corpus).
    *
    * Exactness: ‖e‖² is the order-free decimal sum; sqrt, the
    * division, the float narrowing, and the 1e-8 half-up quantize are
    * all correctly-rounded scalar ops — deterministic on any
    * partitioning and bit-replayable in SQL. One codegen kernel per
    * row ([[graft.plans.NormalizeUnitsI64]]; the interpreted
    * decimal-HOF chain it replaced was ~5 ms/row — the whole ann_pq
    * budget); IntegerUnitsSpec pins the kernel to the reference chain
    * value-for-value.
    *
    * MATERIALIZED once (localCheckpoint): the PQ trainer's init
    * collect, each of its [[meanStep]] folds and the encode all read
    * `un`, and without the barrier each of them would re-run the
    * normalize kernel over the source scan. The units frame is the PQ
    * working set (n × dim longs — 512 B/row); an iterative trainer
    * would persist exactly this projection on a cluster too. Flat PQ,
    * OPQ's first pass, SQ and the residual IVF-PQ build read it; the
    * raw-units IVF-PQ build folds `un` into its one (vec_id, u, un)
    * checkpoint instead ([[ivfPqIndexBuild]]).
    */
  private def pqCorpusUnits(embeddings: DataFrame): DataFrame =
    embeddings.select(col("vec_id"), normalizedUnits.as("un")).honestCheckpoint()

  /** JOINT per-subspace k-means: all m codebooks advance in ONE
    * [[meanStep]] job per iteration (slice j of a row scans codebook
    * j). Training each subspace through [[lloyd]] would cost m×iters
    * full scans and m init collects for the identical math (same
    * md5-order init rows, same argmin tie rule, same mean update) —
    * measured 35.9 s vs ~4 s at bench SF for no result difference.
    * Init is the first `codebookSize` rows of `corpusU` in md5 order.
    */
  private[graft] def pqTrainCodebooks(corpusU: DataFrame, m: Int, codebookSize: Int,
                                      iters: Int, dsub: Int): IndexedSeq[IndexedSeq[Array[Long]]] =
    pqTrainFrom(corpusU, "un", unitsOf(initRows(corpusU, codebookSize, "un"), 0),
      m, codebookSize, iters, dsub)

  /** [[pqTrainCodebooks]] from given init rows (md5 order, at most
    * `codebookSize`) of the `units` column.
    */
  private def pqTrainFrom(corpusU: DataFrame, units: String, init: Seq[Array[Long]],
                          m: Int, codebookSize: Int, iters: Int,
                          dsub: Int): IndexedSeq[IndexedSeq[Array[Long]]] = {
    // an empty corpus has nothing to encode: all-zero codebooks of the
    // right shape keep every encode and search an empty frame of its
    // usual schema
    if (init.isEmpty)
      return IndexedSeq.fill(m, codebookSize)(new Array[Long](dsub))
    // a corpus smaller than the codebook pads by reuse: duplicate
    // centroids never win the lowest-index argmin, so they are
    // permanently-empty cells rather than a driver crash
    var books: Seq[Seq[Array[Long]]] = IndexedSeq.tabulate(m, codebookSize)((j, c) =>
      init(c % init.length).slice(j * dsub, (j + 1) * dsub))
    val rows = corpusU.select(col(units)).queryExecution.toRdd
    for (_ <- 1 to iters) books = meanStep(rows, books, keyed = false)
    books.map(_.toIndexedSeq).toIndexedSeq
  }

  /** One corpus scan → (vec_id, codes): per-subspace argmin code
    * through the fused codebooks-as-data kernel
    * ([[graft.plans.PqEncodeI64]] — one compiled m×cb×dsub loop,
    * plan size O(1) in cb).
    */
  private[graft] def pqEncode(corpusU: DataFrame, books: IndexedSeq[IndexedSeq[Array[Long]]],
                              dsub: Int): DataFrame =
    corpusU.select(col("vec_id"),
      graft.plans.PqQuant.pqEncodeCodes(col("un"), books, dsub).as("codes"))

  /** Query frame with its ADC table (m×cb longs) and the ORIGINAL
    * embedding `qe` for the exact re-rank. `rot` maps the normalized
    * units into the codebooks' working space (identity for flat PQ;
    * the learned rotation for [[annOpq]] — queries must enter the
    * SAME space the codebooks were trained in).
    */
  private[graft] def pqQueries(qs: DataFrame, books: IndexedSeq[IndexedSeq[Array[Long]]],
                               dsub: Int, rot: Column => Column = identity): DataFrame =
    flatQueries(qs, pqQTableOf(books, dsub, rot))

  /** The ADC table (m×cb longs) of the `embedding` column against
    * `books`, as `qtable`, over its normalized units mapped by `rot`
    * (see [[pqQueries]]). The whole table is ONE fused
    * kernel with the codebooks as a reference object
    * (plans/PqQuant.PqQTableI64): a per-subspace `transform` over a
    * typedlit codebook literal embedded m·cb struct literals in the
    * plan — 2048 at FAISS cb=256, ~2 s of analysis/serialization per
    * execution before any row moved.
    */
  private def pqQTableOf(books: IndexedSeq[IndexedSeq[Array[Long]]], dsub: Int,
                         rot: Column => Column = identity): Column =
    graft.plans.PqQuant.pqQTable(rot(normalizedUnits), books, dsub).as("qtable")

  /** The PQ kinds' candidate distance: the ADC sum
    * Σ_j qtable[j][codes[j]] as ONE fused codegen kernel
    * ([[graft.plans.PqAdcSumI64]] — a compiled m-iteration loop
    * reading both arrays once). This is the corpus-sized scan of the
    * SERVING path's candidate scan, which reads only the codes table,
    * so its per-row constant is the scan's cost (the re-rank's
    * corpus read is [[twoPhase]]'s). All-Long sums — exact in any
    * order.
    */
  private def adcDistance(m: Int): Column =
    graft.plans.PqQuant.pqAdcSum(col("codes"), col("qtable"), m)

  /** IVF-style search: the coarse quantizer assignment is the
    * pre-computed `label` column (in a full IVF build this is the
    * nearest-centroid id); search scans only the query's own cell —
    * the 1/nlist scan-pruning that makes ANN tractable at 100 TB.
    */
  def annIvf(embeddings: DataFrame, queries: Option[DataFrame] = None,
             k: Int = 5, queriesAreCorpusDerived: Option[Boolean] = None): DataFrame = {
    val (qs, self) = querySet(embeddings, queries, queriesAreCorpusDerived)
    val corpus = embeddings.select(col("vec_id"), col("embedding"), col("label"))
    exactTopK(keepFastSurvivors(corpus.join(
      broadcast(flatQueries(qs, col("label").as("qlabel"))),
      col("label") === col("qlabel") && notSelf(self)), k), k)
  }
}

/** The ann_lsh hyperplane family — seeded, fixed-point (×1e4,
  * HALF_UP), shared verbatim between the Spark kernel
  * ([[graft.plans.BandSignatures]]) and the generated DuckDB oracle
  * SQL in [[graft.SparkEntry.oracleSql]], which inlines these exact
  * longs as literals. 8 bands × 3 rows over 64 dims.
  */
object LshPlanes {
  val bands = 8
  val rowsPerBand = 3
  val dim = 64
  lazy val scaled: Array[Array[Long]] = {
    val rng = new scala.util.Random(0xA55)
    Array.fill(bands * rowsPerBand, dim)(math.round(rng.nextGaussian() * 10000))
  }
}
