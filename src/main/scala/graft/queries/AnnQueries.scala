package graft
package queries

import graft.operators._
import graft.sources.Tables
import OracleBlocks._

/** Vector similarity: embedding near-dups, SemDeDup, and the flat, IVF,
  * LSH, PQ, OPQ, SQ and BQ searches with their frozen-index serves
  * (Similarity). A served entry builds its index on first use and is
  * bit-identical to its in-memory twin, whose oracle it shares: the
  * integer units, codes and assignments survive the parquet round
  * trip.
  */
private[graft] object AnnQueries extends Family {

  private val dedupSemantic = Query("dedup_semantic",
    (s, d) => Similarity.dedupSemantic(Tables(s, d).embeddings, k = 4), dedupSemanticOracle)
  private val dedupSemanticHier = Query("dedup_semantic_hier",
    (s, d) => Similarity.dedupSemanticHier(Tables(s, d).embeddings, k1 = 2, k2 = 2), dedupSemanticHierOracle)
  private val annIvfTrained = Query("ann_ivf_trained",
    (s, d) => Similarity.annIvfTrained(Tables(s, d).embeddings, nprobe = 2), annIvfTrainedOracle)

  val queries: Seq[Query] = Seq(
    Query("dedup_embedding", (s, d) => Similarity.embeddingNearDup(Tables(s, d).embeddings),
      s"WITH $normsCte,\n${verified("embeddings x JOIN embeddings y ON x.vec_id < y.vec_id", "a", "b", "0.45")}"),
    // SemDeDup-style cluster-bounded semantic near-dup: exact Lloyd
    // assignment (integer units) -> within-cluster exact cosine; the
    // sub-quadratic scale companion to dedup_embedding
    dedupSemantic,
    // the names of the removed `wide` flags, kept registered
    dedupSemantic.as("dedup_semantic_wide"),
    // Hierarchical SemDeDup (coarse cells -> per-cell fine k-means):
    // the second-decade scale path where flat assignment's n*k*d
    // term turns quadratic
    dedupSemanticHier,
    dedupSemanticHier.as("dedup_semantic_hier_grouped"),
    dedupSemanticHier.as("dedup_semantic_hier_wide"),
    Query("dedup_semantic_hier_served", (s, d) => Similarity.dedupSemanticHierServed(Tables(s, d).embeddings,
      indexDir("semhier", d), k1 = 2, k2 = 2), dedupSemanticHierOracle),
    Query("dedup_semantic_served", (s, d) => Similarity.dedupSemanticServed(Tables(s, d).embeddings,
      indexDir("sem", d), k = 4), dedupSemanticOracle),
    // FAISS-style add() for the semantic index: build on the base
    // (vec_id % 10 <> 0), append the rest under the FROZEN centroids
    // (assignment only, no retrain), verify over the full assignment
    Query("dedup_semantic_appended", (s, d) => Similarity.dedupSemanticAppended(Tables(s, d).embeddings,
      indexDir("sem_app", d), k = 4), dedupSemanticAppendedOracle),
    Query("ann_bruteforce", (s, d) => Similarity.annBruteForce(Tables(s, d).embeddings),
      s"WITH $normsCte,\n${exactTopK(flatPairs())}"),
    // FAISS range_search analog: ALL neighbors above the cosine bar,
    // no top-k window -> one broadcast scan
    Query("ann_range", (s, d) => Similarity.annRange(Tables(s, d).embeddings, threshold = 0.3),
      s"WITH $normsCte,\n${verified(flatPairs(), "query_id", "neighbor_id", "0.3")}"),
    // IVF range search (FAISS IndexIVF.range_search): radius query
    // paying only its probed cells — ann_range's scale companion
    Query("ann_range_ivf", (s, d) => Similarity.annRangeIvf(Tables(s, d).embeddings, threshold = 0.3),
      annRangeIvfOracle),
    Query("ann_range_ivf_served", (s, d) => Similarity.annRangeIvfServed(Tables(s, d).embeddings,
      indexDir("rangeivf", d), threshold = 0.3), annRangeIvfOracle),
    Query("ann_ivf", (s, d) => Similarity.annIvf(Tables(s, d).embeddings),
      s"WITH $normsCte,\n${exactTopK(flatPairs(" AND y.label = x.label"), Some("x.label"))}"),
    // Approximate ANN, but a deterministic computation: signatures are
    // exact fixed-point integer dots (BandSignatures kernel), so the
    // oracle re-derives them from the same inlined plane constants and
    // must agree bit-for-bit, candidates and all.
    Query("ann_lsh", (s, d) => Similarity.annLsh(Tables(s, d).embeddings),
      s"""WITH pl AS (SELECT unnest(ll) AS arr, generate_subscripts(ll, 1) - 1 AS plane
        |           FROM (SELECT $lshPlanesLiteral AS ll)),
        |pw AS (SELECT plane, unnest(arr) AS w, generate_subscripts(arr, 1) - 1 AS dim FROM pl),
        |sv AS (SELECT vec_id, CAST(round(CAST(embedding[CAST(i AS INT)] AS DOUBLE) * 10000, 0) AS BIGINT) AS s,
        |              CAST(i - 1 AS BIGINT) AS dim
        |       FROM (SELECT vec_id, embedding, unnest(range(1, len(embedding) + 1)) AS i FROM embeddings)),
        |pdots AS (SELECT vec_id, plane // ${operators.LshPlanes.rowsPerBand} AS band,
        |                 plane % ${operators.LshPlanes.rowsPerBand} AS bit, sum(s * w) AS dot
        |          FROM sv JOIN pw ON sv.dim = pw.dim GROUP BY 1, 2, 3),
        |sigs AS (SELECT vec_id, band, CAST(sum(CASE WHEN dot >= 0 THEN (1::BIGINT << bit) ELSE 0 END) AS BIGINT) AS sig
        |         FROM pdots GROUP BY 1, 2),
        |qsig AS (SELECT vec_id AS query_id, band, sig FROM sigs WHERE vec_id % 100 = 0),
        |cand AS (SELECT DISTINCT q.query_id, s.vec_id
        |         FROM sigs s JOIN qsig q ON s.band = q.band AND s.sig = q.sig AND s.vec_id <> q.query_id),
        |$normsCte,
        |${exactTopK(candidates)}""".stripMargin),
    Query("ann_centroids", (s, d) => Similarity.labelCentroids(Tables(s, d).embeddings),
      """SELECT label, dim, count(*) AS n,
        |  round(CAST(sum(c) AS DOUBLE) / count(*), 6) + 0.0 AS mean
        |FROM (SELECT CAST(label AS BIGINT) AS label, CAST(i - 1 AS BIGINT) AS dim,
        |        CAST(round(CAST(embedding[CAST(i AS INT)] AS DOUBLE), 8) AS DECIMAL(14,8)) AS c
        |      FROM (SELECT label, embedding, unnest(range(1, len(embedding) + 1)) AS i
        |            FROM embeddings))
        |GROUP BY label, dim ORDER BY label, dim""".stripMargin),
    // Iterative Lloyd trainer, fully replayed: exact integer units
    // end to end, so assignment, centroids, and the half-up dist all
    // match bit-for-bit (see lloydCtes).
    Query("ann_kmeans", (s, d) => Similarity.kmeans(Tables(s, d).embeddings),
      s"""WITH ${lloydCtes(8, 5)}
        |SELECT vec_id, cluster,
        |  ${ratio6("du", "10000000000", 1)} AS dist
        |FROM a_fin ORDER BY vec_id""".stripMargin),
    // trained-quantizer IVF: nprobe=2 exercises the multi-cell recall
    // knob under the gate
    annIvfTrained,
    annIvfTrained.as("ann_ivf_trained_wide"),
    // PQ: exact integer-units training/encode/ADC + determinism/recall
    // specs (SimilaritySpec)
    Query("ann_pq", (s, d) => Similarity.annPq(Tables(s, d).embeddings), annPqOracle(8)),
    // FAISS-sized codebooks (cb=64: 6 bits/subspace) through the
    // codebooks-as-data path — the real recall lever on this
    // isotropic corpus (measured recall@5 0.96 vs flat cb=8's 0.56;
    // rotation can't help when per-dim variance is already uniform).
    // The m*cb kernel fan that forced cb=8 is plan DATA here.
    Query("ann_pq_wide", (s, d) => Similarity.annPq(Tables(s, d).embeddings, codebookSize = 64),
      annPqOracle(64)),
    // The FAISS-DEFAULT codebook width (cb=256: 8 bits/subspace, the
    // nbits=8 every FAISS IndexPQ ships with) — the shape the fused
    // PqEncodeI64 kernel exists for (m·cb = 2048 kernels would blow
    // the JIT budget 32x; as plan DATA it is one 128 KB reference
    // object and the same three-loop kernel).
    Query("ann_pq_faiss", (s, d) => Similarity.annPq(Tables(s, d).embeddings, codebookSize = 256),
      annPqOracle(256)),
    Query("ann_pq_served", (s, d) => Similarity.annPqServed(Tables(s, d).embeddings, indexDir("pq", d)),
      annPqOracle(8)),
    // OPQ (Ge et al. 2013): PQ behind the learned orthogonal
    // rotation — seeded randomized-Hadamard init + one alternating
    // signed-permutation Procrustes refinement, exact integer units
    // end to end
    Query("ann_opq", (s, d) => Similarity.annOpq(Tables(s, d).embeddings), annOpqOracle),
    Query("ann_opq_served", (s, d) => Similarity.annOpqServed(Tables(s, d).embeddings, indexDir("opq", d)),
      annOpqOracle),
    // SQ8 scalar quantizer: per-dim 8-bit codes against trained
    // min/max bounds (the non-PQ production compression layout)
    Query("ann_sq", (s, d) => Similarity.annSq(Tables(s, d).embeddings), annSqOracle),
    Query("ann_sq_served", (s, d) => Similarity.annSqServed(Tables(s, d).embeddings, indexDir("sq", d)),
      annSqOracle),
    // IVF-SQ (FAISS IndexIVFScalarQuantizer, by_residual=false):
    // Lloyd cell prune x SQ8 ADC within probed cells
    Query("ann_ivfsq", (s, d) => Similarity.annIvfSq(Tables(s, d).embeddings, nprobe = 2), annIvfSqOracle),
    Query("ann_ivfsq_served", (s, d) => Similarity.annIvfSqServed(Tables(s, d).embeddings,
      indexDir("ivfsq", d), nprobe = 2), annIvfSqOracle),
    // Binary quantization (FAISS IndexBinaryFlat analog): sign bit
    // per dimension, Hamming candidate cut, exact re-rank
    Query("ann_bq", (s, d) => Similarity.annBq(Tables(s, d).embeddings), annBqOracle),
    Query("ann_bq_served", (s, d) => Similarity.annBqServed(Tables(s, d).embeddings, indexDir("bq", d)),
      annBqOracle),
    // Residual BQ: two scaled sign rounds + asymmetric integer ADC —
    // the public recall fix for flat BQ's 1-bit floor (§2 #27w)
    Query("ann_bq_residual", (s, d) => Similarity.annBqResidual(Tables(s, d).embeddings), annBqResidualOracle),
    // IVF-BQ (FAISS IndexBinaryIVF in spirit): Lloyd cell prune x
    // Hamming rank within probed cells
    Query("ann_ivfbq", (s, d) => Similarity.annIvfBq(Tables(s, d).embeddings, nprobe = 2), annIvfBqOracle),
    Query("ann_ivfbq_served", (s, d) => Similarity.annIvfBqServed(Tables(s, d).embeddings,
      indexDir("ivfbq", d), nprobe = 2), annIvfBqOracle),
    // IVF-PQ composite: trained-cell prune x PQ codes scan; nprobe=2
    Query("ann_ivfpq", (s, d) => Similarity.annIvfPq(Tables(s, d).embeddings, nprobe = 2), annIvfPqOracle()),
    Query("ann_ivfpq_served", (s, d) => Similarity.annIvfPqServed(Tables(s, d).embeddings,
      indexDir("ivfpq", d), nprobe = 2), annIvfPqOracle()),
    Query("ann_ivfpq_residual", (s, d) => Similarity.annIvfPqResidual(Tables(s, d).embeddings, nprobe = 2),
      annIvfPqResidualOracle),
    Query("ann_ivfpq_residual_served", (s, d) => Similarity.annIvfPqResidualServed(Tables(s, d).embeddings,
      indexDir("ivfpq_res", d), nprobe = 2), annIvfPqResidualOracle),
    // FAISS-style add(): build over the base 90%, encode-only append
    // of the rest with the FROZEN model, serve the full corpus
    Query("ann_ivfpq_appended", (s, d) => Similarity.annIvfPqAppended(Tables(s, d).embeddings,
      indexDir("ivfpq_app", d), nprobe = 2), annIvfPqAppendedOracle),
    // FAISS-style remove_ids(): build over the full corpus, tombstone
    // a fifth of the codes (no retrain), serve the survivors
    Query("ann_ivfpq_removed", (s, d) => Similarity.annIvfPqRemoved(Tables(s, d).embeddings,
      indexDir("ivfpq_rm", d), nprobe = 2), annIvfPqOracle("AND c.vec_id % 5 <> 2")),
  )

  /** The frozen-index directory of a served query over the tables at
    * `dir`: `graft_<kind>_index_<dir>` under the JVM temp directory,
    * with every character of `dir` outside [A-Za-z0-9.] replaced by `_`.
    */
  private def indexDir(kind: String, dir: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_${kind}_index_${dir.replaceAll("[^A-Za-z0-9.]", "_")}"

  /** The pairs of the flat searches: every 100th vector as the query
    * against every other vector, narrowed by `cond`.
    */
  private def flatPairs(cond: String = ""): String =
    s"embeddings x JOIN embeddings y ON x.vec_id % 100 = 0 AND y.vec_id <> x.vec_id$cond"

  /** The pairs of the IVF flat searches: each query of `q_probe`
    * against every other member of each cell it probes.
    */
  private def probedPairs: String =
    "q_probe p JOIN a_fin m ON m.cluster = p.cluster AND m.vec_id <> p.vec_id " +
      "JOIN embeddings x ON x.vec_id = p.vec_id JOIN embeddings y ON y.vec_id = m.vec_id"

  /** The ann_lsh hyperplanes as a DuckDB nested-list literal — the
    * SAME fixed-point longs the Spark BandSignatures kernel uses
    * (operators.LshPlanes), inlined so the oracle replays the exact
    * integer signature arithmetic.
    */
  private def lshPlanesLiteral: String =
    operators.LshPlanes.scaled.map(_.mkString("[", ", ", "]"))
      .grouped(4).map(_.mkString(", ")).mkString("[\n", ",\n", "]")

  /** dedup_semantic's oracle: the unrolled Lloyd chain assigns
    * clusters in exact integer units (bit-identical to
    * Similarity.lloyd), then the within-cluster pairs are verified on
    * their exact decimal cosine — the candidate set AND the verified
    * pairs must both agree.
    */
  private def dedupSemanticOracle: String = withinClusterPairs(lloydCtes(4, 3), "a_fin")

  /** The appended variant: the same pair verify over a Lloyd chain
    * whose TRAINING reads base rows only (vec_id % 10 ≠ 0 — seed,
    * assignment rounds, means) while a_fin assigns the FULL corpus
    * under the final (frozen) centroids — exactly what
    * build(base) + semanticIndexAppend(rest) materializes on disk.
    */
  private def dedupSemanticAppendedOracle: String =
    withinClusterPairs(lloydCtes(4, 3,
      exDef = rawExDef + ",\next AS (SELECT * FROM ex WHERE vec_id % 10 <> 0)",
      trainEx = "ext",
      initFrom = "(SELECT vec_id FROM embeddings WHERE vec_id % 10 <> 0)"), "a_fin")

  /** dedup_semantic_hier's oracle: the coarse chain's a_fin splits
    * the corpus into cells; one RESTRICTED fine chain per cell
    * re-trains inside it (md5-seeded within the cell); the union of
    * fine assignments (global id = coarse*k2 + fine) feeds the same
    * within-cluster pair verify as dedup_semantic.
    */
  private def dedupSemanticHierOracle: String =
    withinClusterPairs(
      s"""${lloydCtes(2, 3)},
         |${fineLloydCtes(0, 2, 3)},
         |${fineLloydCtes(1, 2, 3)},
         |hasg AS (SELECT vec_id, 0 * 2 + cluster AS cluster FROM f0_a_fin
         |  UNION ALL SELECT vec_id, 1 * 2 + cluster AS cluster FROM f1_a_fin)""".stripMargin, "hasg")

  /** The within-cluster pair verify (Similarity.withinClusterPairs)
    * after the CTEs `ctes`: each pair a < b sharing a cluster of the
    * assignment `asg(vec_id, cluster)`, kept at exact cosine ≥ 0.45.
    */
  private def withinClusterPairs(ctes: String, asg: String): String = {
    val pairs = s"embeddings x JOIN $asg xa ON xa.vec_id = x.vec_id " +
      s"JOIN $asg ya ON ya.cluster = xa.cluster AND ya.vec_id > x.vec_id JOIN embeddings y ON y.vec_id = ya.vec_id"
    s"WITH $ctes,\n$normsCte,\n${verified(pairs, "a", "b", "0.45", Seq("cluster" -> "xa.cluster"))}"
  }

  /** Per-coarse-cell RESTRICTED Lloyd chain for the hierarchical
    * SemDeDup oracle: the same algebra as [[lloydCtes]] with every
    * CTE name prefixed `f{c}_`, training AND final assignment
    * restricted to the vectors the global `a_fin` put in coarse
    * cell `c` (so the global chain must precede this in the WITH
    * list). Mirrors Similarity.lloyd on the filtered cell frame
    * exactly: md5-seeded init WITHIN the cell, per-round argmin with
    * (du, cluster) tiebreak, half-up integer means, starved fine
    * cells keep their previous centroid. An EMPTY coarse cell yields
    * empty CTEs end-to-end — the same nothing an unoccupied coarse
    * cell contributes to the grouped build.
    */
  private def fineLloydCtes(c: Int, k2: Int, iters: Int): String = {
    val p = s"f${c}_"
    val header =
      s"""${p}ex AS (SELECT ex.vec_id, ex.dim, ex.u FROM ex JOIN a_fin af
         |  ON af.vec_id = ex.vec_id AND af.cluster = $c),
         |${p}init AS (SELECT vec_id, rn - 1 AS cluster FROM (
         |  SELECT vec_id, CAST(row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS BIGINT) AS rn
         |  FROM a_fin WHERE cluster = $c) WHERE rn <= $k2),
         |${p}c0 AS (SELECT i.cluster, e.dim, e.u AS cu FROM ${p}init i JOIN ${p}ex e ON e.vec_id = i.vec_id)""".stripMargin
    val rounds = (1 to iters).map { t =>
      s"""${p}d$t AS (SELECT e.vec_id, c.cluster, sum((e.u - c.cu) * (e.u - c.cu)) AS du
         |  FROM ${p}ex e JOIN ${p}c${t - 1} c ON c.dim = e.dim GROUP BY 1, 2),
         |${p}a$t AS (SELECT vec_id, cluster FROM (
         |  SELECT vec_id, cluster, row_number() OVER (PARTITION BY vec_id ORDER BY du, cluster) AS rn FROM ${p}d$t) WHERE rn = 1),
         |${p}c$t AS (SELECT p.cluster, p.dim, coalesce(m.cu, p.cu) AS cu FROM ${p}c${t - 1} p LEFT JOIN (
         |  SELECT a.cluster, e.dim, CAST(${halfUpDivSigned("sum(e.u)", "count(*)")} AS BIGINT) AS cu
         |  FROM ${p}a$t a JOIN ${p}ex e ON e.vec_id = a.vec_id GROUP BY 1, 2) m
         |  ON m.cluster = p.cluster AND m.dim = p.dim)""".stripMargin
    }
    val fin =
      s"""${p}d_fin AS (SELECT e.vec_id, c.cluster, sum((e.u - c.cu) * (e.u - c.cu)) AS du
         |  FROM ${p}ex e JOIN ${p}c$iters c ON c.dim = e.dim GROUP BY 1, 2),
         |${p}a_fin AS (SELECT vec_id, cluster FROM (
         |  SELECT vec_id, cluster, row_number() OVER (PARTITION BY vec_id ORDER BY du, cluster) AS rn FROM ${p}d_fin) WHERE rn = 1)""".stripMargin
    (Seq(header) ++ rounds ++ Seq(fin)).mkString(",\n")
  }

  /** Query-side nprobe probing over the Lloyd chain's final
    * centroids: the top-`nprobe` (du, cluster)-ordered cells per
    * query vector, mirroring Similarity.nearestCells (nprobe=1
    * degenerates to a_fin's argmin). Requires `d_fin` (lloydCtes)
    * earlier in the WITH chain.
    */
  private def qProbeCte(nprobe: Int): String =
    s"""q_probe AS (SELECT vec_id, cluster FROM (
       |  SELECT vec_id, cluster, row_number() OVER (PARTITION BY vec_id ORDER BY du, cluster) AS rn
       |  FROM d_fin WHERE vec_id % 100 = 0) WHERE rn <= $nprobe)""".stripMargin

  /** IVF range-search replay (ann_range_ivf AND its frozen-lifecycle
    * serve twin): the Lloyd chain assigns the corpus, q_probe gates
    * each query to its nprobe nearest cells, and the radius verify
    * runs over probed-cell members only.
    */
  private def annRangeIvfOracle: String =
    s"""WITH $normsCte,
       |${lloydCtes(8, 3)},
       |${qProbeCte(2)},
       |${verified(probedPairs, "query_id", "neighbor_id", "0.3")}""".stripMargin

  /** ann_ivf_trained's oracle: the unrolled Lloyd chain (nlist=8,
    * iters=3) labels the corpus; each query probes its top-2
    * (du, cluster)-ordered cells (q_probe) and the ann_ivf ranking
    * runs across the probed cells' union, `label` being the matched
    * cell. The wide registration is bit-identical by construction
    * (centroids-as-data vs plan-literal kernels — spec-pinned), so
    * one oracle gates both.
    */
  private def annIvfTrainedOracle: String =
    s"""WITH ${lloydCtes(8, 3)},
       |${qProbeCte(2)},
       |$normsCte,
       |${exactTopK(probedPairs, Some("p.cluster"))}""".stripMargin

  /** Unrolled joint-subspace PQ training chain — mirrors
    * Similarity.annPq op-for-op in exact integer units: `nu`
    * normalizes by the exact-decimal norm (scalar IEEE ops: sqrt,
    * divide, float narrowing — all correctly rounded in both
    * engines) and quantizes to 1e-8 units; `sx` splits the 64 dims
    * into m subspaces; each round t computes per-subspace integer
    * squared distances, the lowest-index argmin, and half-up integer
    * means (empty cells keep their previous centroid). Ends with
    * `pcode(vec_id, j, cl)` — the final per-subspace code — and
    * `qd(query_id, j, cl, du)` — the queries' ADC tables.
    * Requires `norms` (normsCte) earlier in the WITH chain.
    */
  /** Exact-decimal-norm normalization to 1e-8 units — the shared
    * first CTE of the PQ chains (and the residual chain's working
    * space).
    */
  private def nuCte: String =
    s"""nu AS (SELECT e.vec_id, CAST(i - 1 AS BIGINT) AS gdim,
       |    CAST(round(CAST(
       |      CASE WHEN sqrt(CAST(n.nrm AS DOUBLE)) > 0
       |        THEN CAST(CAST(e.embedding[CAST(i AS INT)] AS DOUBLE) / sqrt(CAST(n.nrm AS DOUBLE)) AS REAL)
       |        ELSE e.embedding[CAST(i AS INT)] END
       |    AS DOUBLE) * 100000000, 0) AS BIGINT) AS u
       |  FROM (SELECT vec_id, embedding, unnest(range(1, len(embedding) + 1)) AS i FROM embeddings) e
       |  JOIN norms n ON n.vec_id = e.vec_id)""".stripMargin

  private def pqCtes(cb: Int, iters: Int, dsub: Int): String =
    nuCte + ",\n" + pqChain(cb, iters,
      s"sx AS (SELECT vec_id, gdim // $dsub AS j, gdim % $dsub AS sdim, u FROM nu)",
      s"""qd AS (SELECT s.vec_id AS query_id, s.j, b.cl, sum((s.u - b.cu) * (s.u - b.cu)) AS du
         |  FROM sx s JOIN b$iters b ON b.j = s.j AND b.sdim = s.sdim
         |  WHERE s.vec_id % 100 = 0 GROUP BY 1, 2, 3)""".stripMargin)

  /** The joint-subspace PQ training chain over a parameterized
    * subvector source `sx(vec_id, j, sdim, u)` and query-table CTE —
    * shared by the raw ([[pqCtes]]) and residual chains.
    */
  private def pqChain(cb: Int, iters: Int, sxDef: String, qdDef: String,
                      trainSx: String = "sx",
                      pinitFrom: String = "embeddings",
                      px: String = ""): String = {
    // trainSx/pinitFrom restrict TRAINING to a subset while
    // pdf/pcode still encode the FULL `sx` under the final codebooks
    // (see lloydCtes — same frozen-model-encode parameterization).
    // `px` prefixes every internal CTE name so two chains can live in
    // one WITH clause (the OPQ oracle trains before AND after its
    // learned-rotation update); "" keeps every existing oracle
    // byte-identical.
    val header =
      s"""$sxDef,
         |${px}pinit AS (SELECT vec_id, rn - 1 AS cl FROM (
         |  SELECT vec_id, CAST(row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS BIGINT) AS rn
         |  FROM $pinitFrom) WHERE rn <= $cb),
         |${px}b0 AS (SELECT p.cl, s.j, s.sdim, s.u AS cu FROM ${px}pinit p JOIN ${px}sx s ON s.vec_id = p.vec_id)""".stripMargin
    val rounds = (1 to iters).map { t =>
      s"""${px}pd$t AS (SELECT s.vec_id, s.j, b.cl, sum((s.u - b.cu) * (s.u - b.cu)) AS du
         |  FROM $trainSx s JOIN ${px}b${t - 1} b ON b.j = s.j AND b.sdim = s.sdim GROUP BY 1, 2, 3),
         |${px}pa$t AS (SELECT vec_id, j, cl FROM (
         |  SELECT vec_id, j, cl, row_number() OVER (PARTITION BY vec_id, j ORDER BY du, cl) AS rn FROM ${px}pd$t) WHERE rn = 1),
         |${px}b$t AS (SELECT p.cl, p.j, p.sdim, coalesce(m.cu, p.cu) AS cu FROM ${px}b${t - 1} p LEFT JOIN (
         |  SELECT a.cl, s.j, s.sdim, CAST(${halfUpDivSigned("sum(s.u)", "count(*)")} AS BIGINT) AS cu
         |  FROM ${px}pa$t a JOIN $trainSx s ON s.vec_id = a.vec_id AND s.j = a.j GROUP BY 1, 2, 3) m
         |  ON m.cl = p.cl AND m.j = p.j AND m.sdim = p.sdim)""".stripMargin
    }
    val fin =
      s"""${px}pdf AS (SELECT s.vec_id, s.j, b.cl, sum((s.u - b.cu) * (s.u - b.cu)) AS du
         |  FROM ${px}sx s JOIN ${px}b$iters b ON b.j = s.j AND b.sdim = s.sdim GROUP BY 1, 2, 3),
         |${px}pcode AS (SELECT vec_id, j, cl FROM (
         |  SELECT vec_id, j, cl, row_number() OVER (PARTITION BY vec_id, j ORDER BY du, cl) AS rn FROM ${px}pdf) WHERE rn = 1),
         |$qdDef""".stripMargin
    (Seq(header) ++ rounds ++ Seq(fin)).mkString(",\n")
  }

  /** ann_ivfpq's oracle: the Lloyd chain labels cells, the PQ chain
    * supplies codes + ADC tables, and [[ivfPqSearch]] cuts and
    * re-ranks. `codesFilter` restricts the candidate scan to
    * surviving codes — `ann_ivfpq_removed`'s oracle: remove_ids
    * deletes code rows under the unchanged (full-corpus-trained)
    * model, so the SQL difference is exactly one predicate.
    */
  private def annIvfPqOracle(codesFilter: String = ""): String =
    s"""WITH $normsCte,
       |${lloydCtes(8, 3)},
       |${qProbeCte(2)},
       |${pqCtes(8, 3, 8)},
       |${ivfPqSearch(codesFilter)}""".stripMargin

  /** The IVF-PQ search over `pcode`, `qd`, `a_fin` and `q_probe`:
    * candidates from the query's probed cells by ADC distance, then
    * the exact re-rank with the cell carried.
    */
  private def ivfPqSearch(codesFilter: String): String =
    s"""adist AS (SELECT qd.query_id, lq.cluster AS label, c.vec_id, sum(qd.du) AS adist
       |  FROM pcode c JOIN qd ON qd.j = c.j AND qd.cl = c.cl
       |  JOIN a_fin lv ON lv.vec_id = c.vec_id
       |  JOIN q_probe lq ON lq.vec_id = qd.query_id
       |  WHERE lv.cluster = lq.cluster AND c.vec_id <> qd.query_id $codesFilter GROUP BY 1, 2, 3),
       |${candidateCut("adist", "adist", 50, label = true)},
       |${exactTopK(candidates, Some("c.label"))}""".stripMargin

  /** ann_ivfpq_appended oracle — the FAISS add() lifecycle replay:
    * the Lloyd and PQ training chains read ONLY the base rows
    * (vec_id % 10 ≠ 0 — seed, assignment rounds, means), while
    * a_fin/pcode assign + encode the FULL corpus under the final
    * (frozen) model — exactly what build(base) + append(rest)
    * materializes on disk. Search is ann_ivfpq's verbatim.
    */
  private def annIvfPqAppendedOracle: String = {
    val dsub = 8
    s"""WITH $normsCte,
       |${lloydCtes(8, 3,
           exDef = rawExDef + ",\next AS (SELECT * FROM ex WHERE vec_id % 10 <> 0)",
           trainEx = "ext",
           initFrom = "(SELECT vec_id FROM embeddings WHERE vec_id % 10 <> 0)")},
       |${qProbeCte(2)},
       |$nuCte,
       |${pqChain(8, 3,
           s"sx AS (SELECT vec_id, gdim // $dsub AS j, gdim % $dsub AS sdim, u FROM nu),\n" +
             "sxt AS (SELECT * FROM sx WHERE vec_id % 10 <> 0)",
           s"""qd AS (SELECT s.vec_id AS query_id, s.j, b.cl, sum((s.u - b.cu) * (s.u - b.cu)) AS du
              |  FROM sx s JOIN b3 b ON b.j = s.j AND b.sdim = s.sdim
              |  WHERE s.vec_id % 100 = 0 GROUP BY 1, 2, 3)""".stripMargin,
           trainSx = "sxt",
           pinitFrom = "(SELECT vec_id FROM embeddings WHERE vec_id % 10 <> 0)")},
       |${ivfPqSearch("")}""".stripMargin
  }

  /** ann_ivfpq_residual oracle — the residual-IVFPQ replay: the
    * Lloyd chain runs on NORMALIZED units (`ex` redefined from nu),
    * `rx` subtracts each vector's cell centroid (exact BIGINT), the
    * PQ chain trains/encodes over residual subvectors, and the
    * query-side `qd` builds one ADC table per (query, probed cell)
    * from the query's residual against THAT cell.
    */
  private def annIvfPqResidualOracle: String = {
    val dsub = 8
    val qdResidual =
      s"""qrx AS (SELECT n.vec_id, p.cluster, n.gdim // $dsub AS j, n.gdim % $dsub AS sdim,
         |    n.u - c.cu AS u
         |  FROM nu n JOIN q_probe p ON p.vec_id = n.vec_id
         |  JOIN c3 c ON c.cluster = p.cluster AND c.dim = n.gdim),
         |qd AS (SELECT s.vec_id AS query_id, s.cluster, s.j, b.cl,
         |    sum((s.u - b.cu) * (s.u - b.cu)) AS du
         |  FROM qrx s JOIN b3 b ON b.j = s.j AND b.sdim = s.sdim GROUP BY 1, 2, 3, 4)""".stripMargin
    s"""WITH $normsCte,
       |$nuCte,
       |${lloydCtes(8, 3, exDef = "ex AS (SELECT vec_id, gdim AS dim, u FROM nu)")},
       |${qProbeCte(2)},
       |rx AS (SELECT n.vec_id, n.gdim // $dsub AS j, n.gdim % $dsub AS sdim, n.u - c.cu AS u
       |  FROM nu n JOIN a_fin l ON l.vec_id = n.vec_id
       |  JOIN c3 c ON c.cluster = l.cluster AND c.dim = n.gdim),
       |${pqChain(8, 3, "sx AS (SELECT vec_id, j, sdim, u FROM rx)", qdResidual)},
       |adist AS (SELECT qd.query_id, qd.cluster AS label, c.vec_id, sum(qd.du) AS adist
       |  FROM pcode c JOIN qd ON qd.j = c.j AND qd.cl = c.cl
       |  JOIN a_fin lv ON lv.vec_id = c.vec_id
       |  WHERE lv.cluster = qd.cluster AND c.vec_id <> qd.query_id GROUP BY 1, 2, 3),
       |${candidateCut("adist", "adist", 50, label = true)},
       |${exactTopK(candidates, Some("c.label"))}""".stripMargin
  }

  /** ann_pq's oracle at codebook size `cb` — the training chain
    * ([[pqCtes]]) treats cb as DATA (the pinit rank cut), so
    * ann_pq_wide's FAISS-sized codebooks reuse the whole chain with
    * one constant changed.
    */
  private def annPqOracle(cb: Int): String =
    s"""WITH $normsCte,
       |${pqCtes(cb, 3, 8)},
       |adist AS (SELECT qd.query_id, c.vec_id, sum(qd.du) AS adist
       |  FROM pcode c JOIN qd ON qd.j = c.j AND qd.cl = c.cl
       |  WHERE c.vec_id <> qd.query_id GROUP BY 1, 2),
       |${candidateCut("adist", "adist", 50)},
       |${exactTopK(candidates)}""".stripMargin

  /** ann_opq oracle — the FULL OPQ loop replayed (m=8, cb=8, 3 Lloyd
    * iters per fit, ONE refinement round — the registered defaults):
    *  - `y0`: the seeded randomized-Hadamard rotation as pure SQL —
    *    `Σ_j (−1)^bit_count(i & j) · s_j · u_j` (the FWHT identity;
    *    signs inlined from [[operators.Similarity.opqSigns]]).
    *  - first training chain ([[pqChain]], prefix `o1`) on y0.
    *  - the signed-permutation Procrustes update: per-(subspace,
    *    code) HUGEINT group sums (`ssum`), the cross-covariance
    *    contraction (`mm` — M[r][c] = Σ_t cb[j(r)][t][r%8]·S[j(r),t,c]),
    *    and the greedy argmax as a RECURSIVE CTE with the identical
    *    (|m| DESC, r, c) tiebreak and m≥0→+1 sign rule. The
    *    recursion carries the REMAINING matrix in its own state (the
    *    anchor packs mm into a sorted-struct list; each step takes
    *    list_sort(rest)[1] and filters the picked row/col) — the
    *    recursive member references NO outer CTE, because DuckDB
    *    v1.0 evaluates MATERIALIZED CTE scans as EMPTY inside a
    *    recursive member (measured: every correlated pick returned
    *    NULL), and un-materializing the whole chain re-inlines the
    *    training CTEs into a >5-minute oracle.
    *  - `y1` = the signed permutation applied; second chain (`o2`);
    *    ADC + exact decimal re-rank — ann_pq's tail verbatim.
    */
  private def annOpqOracle: String = {
    val signs = operators.Similarity.opqSigns(64).mkString(", ")
    s"""WITH RECURSIVE $normsCte,
       |$nuCte,
       |sgn AS (SELECT unnest(range(0, 64)) AS j, unnest([$signs]) AS sg),
       |odims AS (SELECT unnest(range(0, 64)) AS i),
       |y0 AS (SELECT n.vec_id, d.i AS gdim,
       |    sum((CASE WHEN bit_count(d.i & n.gdim) % 2 = 0 THEN 1 ELSE -1 END) * s.sg * n.u) AS u
       |  FROM nu n JOIN sgn s ON s.j = n.gdim CROSS JOIN odims d GROUP BY 1, 2),
       |${pqChain(8, 3,
           "o1sx AS (SELECT vec_id, gdim // 8 AS j, gdim % 8 AS sdim, u FROM y0)",
           """ssum AS (SELECT pc.j, pc.cl, y.gdim, sum(CAST(y.u AS HUGEINT)) AS s
             |  FROM o1pcode pc JOIN y0 y ON y.vec_id = pc.vec_id GROUP BY 1, 2, 3)""".stripMargin,
           trainSx = "o1sx", px = "o1")},
       |mm AS (SELECT b.j * 8 + b.sdim AS r, ss.gdim AS c, sum(CAST(b.cu AS HUGEINT) * ss.s) AS m
       |  FROM o1b3 b JOIN ssum ss ON ss.j = b.j AND ss.cl = b.cl GROUP BY 1, 2),
       |greedy AS (
       |  SELECT 0 AS step, CAST([] AS BIGINT[]) AS rs, CAST([] AS BIGINT[]) AS cs, CAST([] AS BIGINT[]) AS sgs,
       |         (SELECT list(struct_pack(negabs := -abs(m), r := r, c := c, m := m)) FROM mm) AS rest
       |  UNION ALL
       |  SELECT step + 1,
       |    list_append(rs, pick.r), list_append(cs, pick.c),
       |    list_append(sgs, CASE WHEN pick.m >= 0 THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END),
       |    list_filter(rest, x -> x.r <> pick.r AND x.c <> pick.c)
       |  FROM (SELECT step, rs, cs, sgs, rest, list_sort(rest)[1] AS pick FROM greedy WHERE step < 64)),
       |permt AS (SELECT unnest(rs) AS r, unnest(cs) AS c, unnest(sgs) AS sg FROM greedy WHERE step = 64),
       |y1 AS (SELECT y0.vec_id, p.r AS gdim, p.sg * y0.u AS u FROM y0 JOIN permt p ON p.c = y0.gdim),
       |${pqChain(8, 3,
           "o2sx AS (SELECT vec_id, gdim // 8 AS j, gdim % 8 AS sdim, u FROM y1)",
           """qd AS (SELECT s.vec_id AS query_id, s.j, b.cl, sum((s.u - b.cu) * (s.u - b.cu)) AS du
             |  FROM o2sx s JOIN o2b3 b ON b.j = s.j AND b.sdim = s.sdim
             |  WHERE s.vec_id % 100 = 0 GROUP BY 1, 2, 3)""".stripMargin,
           trainSx = "o2sx", px = "o2")},
       |adist AS (SELECT qd.query_id, c.vec_id, sum(qd.du) AS adist
       |  FROM o2pcode c JOIN qd ON qd.j = c.j AND qd.cl = c.cl
       |  WHERE c.vec_id <> qd.query_id GROUP BY 1, 2),
       |${candidateCut("adist", "adist", 50)},
       |${exactTopK(candidates)}""".stripMargin
  }

  /** The SQ8 code book over the normalized units `nu`: per-dimension
    * min/max bounds (`sqb`), 8-bit codes (`scode`) and their decode
    * (`sdec`) as pure BIGINT floor division (`//` ≡ the kernel's Java
    * long division — operands are non-negative by construction, so
    * truncation and floor agree).
    */
  private def sqCtes: String =
    """sqb AS (SELECT gdim, min(u) AS vmin, max(u) - min(u) AS span FROM nu GROUP BY 1),
      |scode AS (SELECT n.vec_id, n.gdim,
      |    CASE WHEN b.span = 0 THEN 0 ELSE ((n.u - b.vmin) * 255) // b.span END AS c
      |  FROM nu n JOIN sqb b ON b.gdim = n.gdim),
      |sdec AS (SELECT s.vec_id, s.gdim, b.vmin + (s.c * b.span) // 255 AS d
      |  FROM scode s JOIN sqb b ON b.gdim = s.gdim)""".stripMargin

  /** ann_sq's oracle — the SQ8 replay ([[sqCtes]]), the asymmetric
    * Σ(q − decode)² candidate order, then the exact re-rank.
    */
  private def annSqOracle: String =
    s"""WITH $normsCte,
       |$nuCte,
       |$sqCtes,
       |sdist AS (SELECT q.vec_id AS query_id, x.vec_id, sum((q.u - x.d) * (q.u - x.d)) AS sdist
       |  FROM nu q JOIN sdec x ON x.gdim = q.gdim AND x.vec_id <> q.vec_id
       |  WHERE q.vec_id % 100 = 0 GROUP BY 1, 2),
       |${candidateCut("sdist", "sdist", 50)},
       |${exactTopK(candidates)}""".stripMargin

  /** ann_bq's oracle: every vector's packed sign bits ([[signPack]]),
    * candidates per query by Hamming distance (Σ bit_count(xor) over
    * words) cut at `rerank` = 20, then the exact re-rank.
    */
  private def annBqOracle: String =
    s"""WITH $normsCte,
       |$signPack,
       |hams AS (SELECT query_id, vec_id, CAST(sum(p) AS BIGINT) AS hamming FROM (
       |  SELECT qs.vec_id AS query_id, s.vec_id,
       |         unnest([CAST(bit_count(xor(qs.sig[i], s.sig[i])) AS BIGINT)
       |           FOR i IN range(1, len(s.sig) + 1)]) AS p
       |  FROM sigs qs JOIN sigs s ON s.vec_id <> qs.vec_id
       |  WHERE qs.vec_id % 100 = 0) GROUP BY 1, 2),
       |${candidateCut("hams", "hamming", 20)},
       |${exactTopK(candidates)}""".stripMargin

  /** ann_bq_residual oracle — the two-round scaled-sign replay in
    * exact integer units, mirroring Similarity.bqResidualIndexBuild /
    * bqResidualSearch op-for-op: `ex` quantizes to 1e-8 units, α is
    * the integer half-up mean |u| (nonnegative numerator — one DIV
    * branch), r = u − sign(u)·α, β the half-up mean |r|, and each
    * candidate scores Σᵢ qᵢ·(sign(uᵢ)·α + sign(rᵢ)·β) against the
    * FULL-precision query units (asymmetric: associativity of exact
    * integer arithmetic makes this equal the kernel's
    * α·Σσ1q + β·Σσ2q). (score DESC, vec_id) cut at rerank = 20, then
    * the exact re-rank.
    */
  private def annBqResidualOracle: String =
    s"""WITH $normsCte,
       |$rawExDef,
       |ast AS (SELECT vec_id, CAST(count(*) AS BIGINT) AS d, sum(abs(u)) AS sa FROM ex GROUP BY 1),
       |alph AS (SELECT vec_id, ${halfUpDiv("sa", "d")} AS a FROM ast),
       |res AS (SELECT e.vec_id, e.dim, e.u,
       |    e.u - CASE WHEN e.u >= 0 THEN al.a ELSE -al.a END AS r
       |  FROM ex e JOIN alph al USING (vec_id)),
       |bst AS (SELECT vec_id, CAST(count(*) AS BIGINT) AS d, sum(abs(r)) AS sb FROM res GROUP BY 1),
       |bet AS (SELECT vec_id, ${halfUpDiv("sb", "d")} AS b FROM bst),
       |recon AS (SELECT r.vec_id, r.dim,
       |    (CASE WHEN r.u >= 0 THEN al.a ELSE -al.a END)
       |  + (CASE WHEN r.r >= 0 THEN bt.b ELSE -bt.b END) AS xh
       |  FROM res r JOIN alph al USING (vec_id) JOIN bet bt USING (vec_id)),
       |qex AS (SELECT vec_id AS query_id, dim, u AS qu FROM ex WHERE vec_id % 100 = 0),
       |sc AS (SELECT q.query_id, c.vec_id, sum(q.qu * c.xh) AS score
       |  FROM qex q JOIN recon c ON c.dim = q.dim AND c.vec_id <> q.query_id
       |  GROUP BY 1, 2),
       |${candidateCut("sc", "score DESC", 20)},
       |${exactTopK(candidates)}""".stripMargin

  /** ann_ivfbq's oracle — the IVF-BQ replay: ann_ivfpq's coarse Lloyd
    * chain + query-side q_probe (nprobe=2) gating ann_bq's
    * sign-pack/Hamming chain to the probed cells' members, then the
    * exact re-rank with the cell carried.
    */
  private def annIvfBqOracle: String =
    s"""WITH $normsCte,
       |${lloydCtes(8, 3)},
       |${qProbeCte(2)},
       |$signPack,
       |hams AS (SELECT query_id, label, vec_id, CAST(sum(p) AS BIGINT) AS hamming FROM (
       |  SELECT qs.vec_id AS query_id, lq.cluster AS label, s.vec_id,
       |         unnest([CAST(bit_count(xor(qs.sig[i], s.sig[i])) AS BIGINT)
       |           FOR i IN range(1, len(s.sig) + 1)]) AS p
       |  FROM sigs qs JOIN q_probe lq ON lq.vec_id = qs.vec_id
       |       JOIN a_fin lv ON lv.cluster = lq.cluster
       |       JOIN sigs s ON s.vec_id = lv.vec_id AND s.vec_id <> qs.vec_id) GROUP BY 1, 2, 3),
       |${candidateCut("hams", "hamming", 20, label = true)},
       |${exactTopK(candidates, Some("c.label"))}""".stripMargin

  /** ann_ivfsq's oracle — the IVF-SQ replay: ann_ivfpq's coarse Lloyd
    * chain + query-side q_probe (nprobe=2) gating ann_sq's SQ8
    * encode/decode/asymmetric-distance chain to the probed cells'
    * members, then the exact re-rank with the cell carried.
    */
  private def annIvfSqOracle: String =
    s"""WITH $normsCte,
       |${lloydCtes(8, 3)},
       |${qProbeCte(2)},
       |$nuCte,
       |$sqCtes,
       |sdist AS (SELECT q.vec_id AS query_id, lq.cluster AS label, x.vec_id,
       |    sum((q.u - x.d) * (q.u - x.d)) AS sdist
       |  FROM nu q JOIN q_probe lq ON lq.vec_id = q.vec_id
       |  JOIN a_fin lv ON lv.cluster = lq.cluster
       |  JOIN sdec x ON x.vec_id = lv.vec_id AND x.gdim = q.gdim
       |  WHERE x.vec_id <> q.vec_id GROUP BY 1, 2, 3),
       |${candidateCut("sdist", "sdist", 50, label = true)},
       |${exactTopK(candidates, Some("c.label"))}""".stripMargin
}
