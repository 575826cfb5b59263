package graft.operators

import graft.functions.Hashing._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.plans.HonestCheckpoint._

/** Document deduplication — the LLM-training-pipeline operators
  * (SURVEY §2 #21-24), generalizing the reference's key-based dedup
  * (finanalyzer sql/redundancy.sql) to content-based near-dup
  * detection.
  *
  * Scale design: every variant is candidate-generation (banding /
  * pigeonhole chunks / prefix filtering — near-linear shuffles on
  * derived keys) followed by exact verification ONLY on candidates.
  * Nothing here is all-pairs; at 100 TB the candidate sets stay
  * proportional to the true duplicate count, and the verify joins
  * are hash joins on doc ids.
  *
  * All hashing is md5-based (engine-parity, SURVEY §5).
  */
object Dedup {

  /** Training-set decontamination: flag every TRAIN document that
    * shares at least one w-token shingle with the EVAL set — the
    * benchmark-leakage sweep every LLM data pipeline runs before
    * training. Output is (contaminated doc, #distinct shared
    * shingles); docs shorter than w tokens have no shingles and
    * cannot be flagged.
    *
    * Scale shape: eval sets are benchmark-sized (≪ corpus), so the
    * distinct eval-shingle set BROADCASTS and the train side is one
    * scan + shingle explode + map-side-combined count; nothing
    * corpus-sized crosses a shuffle except the contaminated doc ids.
    */
  def decontaminate(documents: DataFrame, evalSource: String = "src0", w: Int = 8): DataFrame = {
    val sh = documents.select(col("doc_id"), col("source"),
      explode(array_distinct(shingles(col("text"), w))).as("shingle"))
    val evalSh = sh.filter(col("source") === evalSource).select(col("shingle")).distinct()
    sh.filter(col("source") =!= evalSource)
      .join(broadcast(evalSh), "shingle")
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("shingle")).as("n_shared"))
      .orderBy(col("doc_id"))
  }

  /** Passage-level exact dedup: chunk every doc into NON-overlapping
    * `w`-token passages (trailing partial chunk dropped — both
    * engines agree on ⌊n/w⌋ full chunks), hash each, and report
    * passages occurring more than once with doc/occurrence counts and
    * the canonical first location. This is the chunk-granularity
    * dedup sweep LLM pipelines run between document-level exact dedup
    * and shingle near-dup: it catches boilerplate shared across
    * otherwise-distinct documents. One hash-partitioned aggregation
    * over (passage hash) — no sort, no all-pairs anything; the
    * explode fans out ~n/w rows per doc on the scan side.
    */
  def passages(documents: DataFrame, w: Int = 20): DataFrame = {
    val chunks = Spread(documents, "doc_id")
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      // guard: sequence(0, -1) DESCENDS in Spark, it is not empty —
      // short docs must map to an explicit empty array
      .select(col("doc_id"), posexplode(
        when(size(col("toks")) >= w,
          transform(sequence(lit(0), (size(col("toks")) / w).cast("int") - 1),
            i => concat_ws(" ", slice(col("toks"), i * w + 1, lit(w)))))
          .otherwise(array().cast("array<string>"))).as(Seq("chunk_idx", "passage")))
    chunks
      .groupBy(md5(col("passage")).as("passage_hash"))
      // lexicographic (doc_id, chunk_idx) min PACKED as one decimal:
      // min over a struct is not a mutable agg-buffer type, so the
      // struct form planned a SortAggregate — a full sort of the
      // exploded per-window frame (n·tokens/w rows) where everything
      // else here is hash-based. doc_id is a nonnegative long (≤ 19
      // digits) and chunk_idx a posexplode int (< 2³¹ < 10¹⁰), so
      // doc_id·10¹⁰ + chunk_idx fits decimal(29,0), orders exactly
      // like the struct, and decimal min IS hash-aggregable.
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occurrences"),
        min(col("doc_id").cast(org.apache.spark.sql.types.DecimalType(38, 0))
          * lit(10000000000L) + col("chunk_idx")).as("firstp"))
      .filter(col("n_occurrences") >= 2)
      // pmod-based unpack: DIV/% truncate toward zero, which
      // mis-decodes a NEGATIVE doc_id (-1 packs order-correctly but
      // would unpack as (0, -9999999995)); floor-division via pmod is
      // total — identical to DIV/% for the nonnegative ids the gate
      // corpus carries, correct for any future hashed/negative source
      // (pinned by DedupSpec's negative-id decode test).
      .select(col("passage_hash"), col("n_docs"), col("n_occurrences"),
        expr("CAST((firstp - pmod(firstp, 10000000000)) DIV 10000000000 AS BIGINT)").as("first_doc"),
        expr("CAST(pmod(firstp, 10000000000) AS BIGINT)").as("first_chunk"))
      .orderBy(col("passage_hash"))
  }

  /** OVERLAPPING-window repeated-substring sweep — the alignment-
    * robust strengthening of [[passages]] (the move of Lee et al.
    * 2021's exact-substring dedup, windowed): non-overlapping chunks
    * miss a shared w-token sequence whenever it straddles a chunk
    * boundary or starts at a different offset in each doc; sliding
    * windows at `stride` catch it at any alignment within stride−1
    * tokens (stride = 1 is exact; the default trades 5× fewer rows
    * for a ≤ 4-token alignment slack). Same scale shape as passages —
    * one hash-partitioned aggregation over window hashes, explode
    * fans ~n/stride rows per doc, no sort, no pairs.
    *
    * INTRA-DOC self-matches: unlike chunk-aligned [[passages]],
    * overlapping windows of ONE periodic document (a token run of
    * length ≥ w + stride, e.g. "x x x …") are textually identical at
    * consecutive strides, so a hit can read n_occurrences ≥ 2 with
    * n_docs = 1 — repetition INSIDE a doc, not duplication across
    * docs. That is a real signal (it is exactly what
    * [[graft.operators.TextOps.repetition]] flags), but a
    * CROSS-DOCUMENT dedup consumer must gate on `minDocs = 2`
    * (advisor round 14); the default keeps both classes visible like
    * passages' n_occurrences contract.
    */
  def substrings(documents: DataFrame, w: Int = 20, stride: Int = 5,
                 minDocs: Int = 1): DataFrame = {
    val wins = Spread(documents, "doc_id")
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), posexplode(
        when(size(col("toks")) >= w,
          transform(sequence(lit(0), ((size(col("toks")) - w) / stride).cast("int")),
            i => concat_ws(" ", slice(col("toks"), i * stride + 1, lit(w)))))
          .otherwise(array().cast("array<string>"))).as(Seq("win_idx", "win")))
    wins
      .groupBy(md5(col("win")).as("window_hash"))
      // packed lexicographic min — the [[passages]] decimal trick
      // (hash-aggregable; the struct form sort-aggregated the
      // n/stride-per-doc exploded window frame)
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occurrences"),
        min(col("doc_id").cast(org.apache.spark.sql.types.DecimalType(38, 0))
          * lit(10000000000L) + col("win_idx")).as("firstp"))
      .filter(col("n_occurrences") >= 2 && col("n_docs") >= minDocs)
      // pmod unpack — negative-doc_id-safe, see [[passages]]
      .select(col("window_hash"), col("n_docs"), col("n_occurrences"),
        expr("CAST((firstp - pmod(firstp, 10000000000)) DIV 10000000000 AS BIGINT)").as("first_doc"),
        expr("CAST(pmod(firstp, 10000000000) AS BIGINT)").as("first_win"))
      .orderBy(col("window_hash"))
  }

  /** Exact dedup groups: md5(text) → keeper = min(doc_id), group
    * size. One hash-partitioned aggregation; no sort.
    */
  def exact(documents: DataFrame): DataFrame =
    documents.groupBy(md5(col("text")).as("text_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_dups"))
      .orderBy(col("text_hash"))

  /** One row per document, (doc_id, sh): `sh` holds the document's
    * DISTINCT w-token shingles, empty below w tokens. Shingling is one
    * codegen'd kernel per row ([[shingles]]); the repartition on
    * doc_id parallelizes it even when the scan yields few input
    * splits. Its hash partitioning reaches only a consumer that reads
    * this frame directly, as [[simhash]] does; the other callers
    * `honestCheckpoint` it, and the ones that rank shingles explode
    * the checkpoint into (doc_id, s) rows.
    */
  private def shingleSets(documents: DataFrame, w: Int): DataFrame =
    Spread(documents, "doc_id")
      .select(col("doc_id"), array_distinct(shingles(col("text"), w)).as("sh"))

  /** The (doc_id, s) rows of a [[shingleSets]] frame. */
  private def shingleRows(sets: DataFrame): DataFrame =
    sets.select(col("doc_id"), explode(col("sh")).as("s"))

  /** Batch reconciliation for STREAMING near-dup candidates: exact
    * shingle-set Jaccard over the flagged (a, b) pairs only — the
    * closing step of the streaming pipeline, whose bucket-keyed state
    * can do sketch-level verification but not exact set intersection
    * ([[graft.streaming.DedupStream.nearDupCandidates]]). Work is
    * proportional to the candidate count, never the corpus pair
    * count: the shingle sets of referenced docs join in by id.
    */
  def verifyPairs(documents: DataFrame, pairs: DataFrame,
                  threshold: Double = 0.8, w: Int = 3): DataFrame =
    verifyJaccard(pairs.select(col("a"), col("b")).distinct(),
      shingleSets(documents, w).honestCheckpoint(), threshold).orderBy(col("a"), col("b"))

  /** Exact Jaccard verification of candidate (a, b) pairs against the
    * documents' shingle sets (a (doc_id, sh) frame); emits pairs with
    * round(j, 6) ≥ threshold. Unsorted: [[components]] needs no order,
    * the public callers sort.
    *
    * Set-based: each pair joins to both documents' shingle sets by id,
    * so a scored row is two shingle arrays wide, and |A ∩ B| is one
    * `array_intersect` over the exact strings. That is about the
    * volume the earlier narrow form moved too — it fanned out one
    * (pair, shingle) row per shingle of `a` and matched them against
    * `b`'s rows on (b, s) — but as one row per pair instead of a
    * fan-out, a second join and a count per pair, and over the one
    * per-document checkpoint instead of a corpus-wide
    * (doc_id, shingle) frame. A candidate is a near-duplicate pair,
    * so its width is bounded by the two documents it verifies, and
    * the work stays candidate-bounded (the LSH / pigeonhole /
    * prefix-filter guarantee).
    */
  private def verifyJaccard(cands: DataFrame, sets: DataFrame, threshold: Double): DataFrame =
    scoredPairCounts(cands, sets)
      .withColumn("jaccard",
        when(col("na") + col("nb") - col("inter") === 0, lit(0.0))
          .otherwise(round(col("inter").cast("double")
            / (col("na") + col("nb") - col("inter")), 6) + lit(0.0)))
      .filter(col("jaccard") >= threshold)
      .select(col("a"), col("b"), col("jaccard"))

  /** The one pair-scoring core behind [[verifyJaccard]] and
    * [[containment]]: candidate (a, b) pairs → (a, b, inter, na, nb),
    * with inter = |A ∩ B| over the exact shingle strings (never their
    * hashes) and na, nb the set sizes. Scoring (Jaccard vs overlap
    * coefficient) stays at the call site.
    *
    * LEFT joins (not an inner join + re-join of cands, which would
    * reference the candidate frame twice — unresolvable on streaming
    * memory-sink plans), so a disjoint pair still scores inter = 0 and
    * gets its J = 0 verdict (verifyPairs is called with threshold 0
    * by the streaming reconciliation tests), and a candidate document
    * with no shingles — or no row at all — has n = 0 instead of
    * silently dropping the pair. The joins are equi-joins on doc ids
    * whose strategy follows size statistics: the checkpointed sets
    * ride the build side of broadcast hash joins while they are
    * small, and the same plan degrades to shuffled equi-joins past
    * the broadcast threshold — linear either way, never a nested-loop
    * (DedupPlanSpec pins both).
    *
    * The counts come out of a one-row `inline` per pair, so
    * `array_intersect` runs once per pair: a filter on a score over a
    * projected `inter` is pushed below the projection with `inter`
    * inlined into every use (the Jaccard test reads it three times),
    * but a filter on a generator's output stays above the Generate
    * (DedupPlanSpec pins one `array_intersect` per plan).
    */
  private def scoredPairCounts(cands: DataFrame, sets: DataFrame): DataFrame = {
    // an id without a row has the empty set
    def set(c: String): Column = coalesce(col(c), array().cast("array<string>")).as(c)
    cands
      .join(sets.select(col("doc_id").as("a"), col("sh").as("sa")), Seq("a"), "left")
      .join(sets.select(col("doc_id").as("b"), col("sh").as("sb")), Seq("b"), "left")
      .select(col("a"), col("b"), set("sa"), set("sb"))
      .select(col("a"), col("b"), inline(array(struct(
        size(array_intersect(col("sa"), col("sb"))).cast("long").as("inter"),
        size(col("sa")).cast("long").as("na"), size(col("sb")).cast("long").as("nb")))))
  }

  /** MinHash + LSH near-dup pairs (w=3 shingles, 32 permutations,
    * 16 bands × 2 rows, exact-Jaccard verify ≥ 0.8).
    *
    * Miss probability for a true pair at j = 0.8 is (1−j²)¹⁶ ≈ 9e−8,
    * so the verified output equals the brute-force answer (the test
    * suite asserts this); the oracle is the brute-force all-pairs
    * query.
    */
  def minhashLsh(documents: DataFrame, numHashes: Int = 32, bands: Int = 16,
                 threshold: Double = 0.8): DataFrame =
    minhashPairs(signedSets(documents, numHashes), numHashes, bands, threshold)
      .orderBy(col("a"), col("b"))

  /** The MinHash chain's one materialized frame: (doc_id, sh, sig),
    * one row per document with its distinct w=3 shingles and their
    * `numHashes`-slot signature ([[minhash]]: hᵢ = min xxhash64(i, s),
    * null for a document with no shingles), built in one projection
    * and checkpointed once (eager localCheckpoint, ContextCleaner-
    * freed, MEMORY_AND_DISK so 100 TB spills rather than OOMs). Both
    * sides of the band self-join and both verify joins read it, so
    * the corpus is tokenized, shingled and hashed once. Signatures
    * are internal (the oracle is the brute-force Jaccard answer, not
    * the sketch), hence codegen'd seeded xxhash64 instead of md5.
    */
  private def signedSets(documents: DataFrame, numHashes: Int): DataFrame =
    shingleSets(documents, 3).withColumn("sig", minhash(col("sh"), numHashes))
      .honestCheckpoint()

  /** Verified near-dup pairs of a [[signedSets]] frame: band each
    * signed document (bands × rows slots, band hash = xxhash64 over
    * the band's slots), self-join on equal band hashes, verify the
    * candidates exactly against the same frame's shingle sets.
    * Documents with a null signature are never banded.
    */
  private def minhashPairs(docs: DataFrame, numHashes: Int, bands: Int,
                           threshold: Double): DataFrame = {
    val rows = numHashes / bands
    val bandCols = (0 until bands).map { j =>
      struct(lit(j).as("band_id"),
        xxhash64((0 until rows).map(r => col("sig")(j * rows + r)): _*).as("bh"))
    }
    val banded = docs.filter(col("sig").isNotNull)
      .select(col("doc_id"), explode(array(bandCols: _*)).as("band"))
      .select(col("doc_id"), col("band.band_id"), col("band.bh"))
    val cands = banded.as("x").join(banded.as("y"),
        col("x.band_id") === col("y.band_id") && col("x.bh") === col("y.bh") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b")).distinct()
    verifyJaccard(cands, docs, threshold)
  }

  /** SimHash near-dup pairs: 60-bit signature over w=3 shingles,
    * candidate generation by pigeonhole chunking, exact Hamming
    * verify.
    *
    * Default budget is Hamming ≤ 3 → 4 chunks of 15 bits (the
    * classic Manku-et-al configuration): each chunk key carries 15
    * bits, so random-signature collisions are ~2⁻¹⁵ per chunk and
    * the candidate join stays linear in the true near-dup count.
    * (A loose budget like ≤ 8 forces 9 chunks of only 6-7 bits —
    * 1/64-selective buckets whose candidate set grows ~N²/64: fine
    * on thousands of docs, catastrophic at 100 TB.)
    */
  def simhash(documents: DataFrame, maxHamming: Int = 3): DataFrame = {
    val sh = shingleRows(shingleSets(documents, 3))
    val h = sh.select(col("doc_id"), hex60(col("s")).as("h"))
    // Per-bit balance: +1 when bit set, −1 otherwise, summed per doc.
    val bitSums = (0 until 60).map(i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"b$i"))
    val sig = h.groupBy(col("doc_id"))
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"),
        (0 until 60).map(i => when(col(s"b$i") > 0, shiftleft(lit(1L), i)).otherwise(0L))
          .reduce(_.bitwiseOR(_)).as("sig"))
      // One row per doc (16 bytes) — materialize before the pigeonhole
      // self-join. Inline, both join sides replay the full
      // shingle→hash→60-bit-sum chain (one under a BroadcastExchange,
      // so ReuseExchange can't fire — round-6 plan audit: two complete
      // tokenize chains). Checkpointing makes the corpus scan run ONCE.
      .honestCheckpoint()
    // Pigeonhole: split 60 bits into maxHamming+1 chunks; any pair
    // within the Hamming budget must agree on at least one chunk.
    val nChunks = maxHamming + 1
    val bounds = (0 to nChunks).map(c => c * 60 / nChunks)
    val chunkCols = (0 until nChunks).map { c =>
      val off = bounds(c); val width = bounds(c + 1) - bounds(c)
      struct(lit(c).as("chunk_id"),
        shiftright(col("sig"), off).bitwiseAND((1L << width) - 1).as("cv"))
    }
    val chunked = sig.select(col("doc_id"), col("sig"), explode(array(chunkCols: _*)).as("ch"))
      .select(col("doc_id"), col("sig"), col("ch.chunk_id"), col("ch.cv"))
    chunked.as("x").join(chunked.as("y"),
        col("x.chunk_id") === col("y.chunk_id") && col("x.cv") === col("y.cv") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        bit_count(col("x.sig").bitwiseXOR(col("y.sig"))).cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
      .orderBy(col("a"), col("b"))
  }

  /** Duplicate-cluster resolution: connected components over the
    * near-dup pair graph by min-label propagation, so every doc in a
    * transitive dup cluster maps to one canonical keeper (the min
    * doc_id). This is the step that turns pairwise dedup output into
    * an actionable keep/drop list.
    *
    * Distributed CC the standard way: labels start as node ids; each
    * round every node takes the min label among itself and its
    * neighbors; converged when nothing changes. Rounds = component
    * diameter — tiny for dup clusters (pairs are near-cliques), so
    * the loop is 2-3 shuffle rounds of |E| rows. The driver only
    * ever sees one change-count per round, never data.
    *
    * The MinHash chain's per-document checkpoint ([[signedSets]]) is
    * released once the labels are computed: the edge checkpoint holds
    * the verified pairs, and nothing else reads it.
    */
  def components(documents: DataFrame, threshold: Double = 0.8): DataFrame = {
    val docs = signedSets(documents, 32)
    try componentsFromPairs(minhashPairs(docs, 32, 16, threshold))
    finally docs.releaseCheckpoint()
  }

  /** Connected components over an explicit near-dup pair frame
    * (columns `a`, `b`) — the reusable second stage of [[components]],
    * so a pipeline that already materialized its candidate pairs (or
    * wants SimHash/PPJoin pairs instead of MinHash) doesn't re-run
    * candidate generation to cluster them.
    *
    * Label propagation runs TWO rounds per materialized step and reads
    * only the second round's change count: dup clusters are
    * near-cliques, so the first step usually reaches the fixpoint and
    * the second proves it. Longer chains keep double-stepping.
    *
    * The symmetric edges and every double round are honestCheckpoints,
    * so each step plans a constant-size plan over two checkpoint
    * leaves, never the pair chain (MinHash → verify) re-analysed per
    * round, and nothing enters the CacheManager. A superseded round's
    * blocks are released once the next round is materialized, the
    * edge blocks after the loop; the result reads the last round's
    * checkpoint, which the ContextCleaner frees with the frame. As
    * with every other localCheckpoint, a lost round block fails the
    * query loudly instead of recomputing; the executor-loss
    * materialization policy covers it through honestCheckpoint.
    */
  def componentsFromPairs(pairs: DataFrame): DataFrame = {
    // both orientations from one pass over the pairs: a union would
    // run the pair chain (MinHash → verify) once per branch
    val edges = pairs.select(inline(array(struct(col("a"), col("b")),
      struct(col("b").as("a"), col("a").as("b"))))).honestCheckpoint()
    def propagate(labels: DataFrame): DataFrame = {
      val viaNeighbors = labels.join(edges, col("node") === col("a"))
        .groupBy(col("b")).agg(min(col("comp")).as("ncomp"))
        .select(col("b").as("node"), col("ncomp"))
      // Carry the previous label through the update so the
      // convergence check is a filter over the round's checkpoint, not
      // a second labels⋈next join per round.
      labels.select(col("node"), col("comp")).join(viaNeighbors, Seq("node"), "left")
        .select(col("node"), col("comp").as("prev"),
          least(col("comp"), coalesce(col("ncomp"), col("comp"))).as("comp"))
    }
    var labels = edges.select(col("a").as("node")).distinct()
      .select(col("node"), col("node").as("comp"))
    var changed = 1L
    while (changed > 0) {
      val next = propagate(propagate(labels)).honestCheckpoint()
      changed = countRows(next.filter(col("comp") =!= col("prev")))
      labels.releaseCheckpoint() // no-op on the initial, unmaterialized labels
      labels = next
    }
    edges.releaseCheckpoint()
    labels.select(col("node"), col("comp")).orderBy(col("node"))
  }

  /** Apply the near-dup verdicts to the corpus — the step that turns
    * [[components]]' cluster labels into the deduplicated dataset:
    * every doc maps to its cluster's canonical keeper (min doc_id),
    * docs outside any cluster keep themselves, and `kept` marks the
    * rows that survive. Component labels are cluster-sized (≪
    * corpus), so both the label join and the keeper join ride
    * hash(doc_id)-style equi-joins with broadcastable right sides at
    * any scale where dup clusters are sparse.
    */
  def applyDedup(documents: DataFrame, threshold: Double = 0.8): DataFrame =
    applyDedupWith(documents, components(documents, threshold))

  /** [[applyDedup]] with PRECOMPUTED cluster labels — the overload a
    * pipeline uses when it already ran [[components]] (keep/drop
    * lists and cluster reports come from the same labels; re-running
    * the LSH candidate chain to apply verdicts it already computed
    * doubles the most expensive stage of the whole dedup family).
    * Only the two label-sized joins remain here.
    */
  def applyDedupWith(documents: DataFrame, comps: DataFrame): DataFrame =
    labelCore(documents, comps).orderBy(col("doc_id"))

  /** The unsorted verdict labels behind [[applyDedupWith]] — reused
    * by [[writeCurated]], whose bucketed write clusters by keeper_id
    * and would waste the presentation sort.
    */
  private def labelCore(documents: DataFrame, comps: DataFrame): DataFrame = {
    val keepers = comps.groupBy(col("comp")).agg(min(col("node")).as("keeper"))
    documents.select(col("doc_id"))
      .join(comps.select(col("node").as("doc_id"), col("comp")), Seq("doc_id"), "left")
      .join(keepers, Seq("comp"), "left")
      .select(col("doc_id"),
        coalesce(col("keeper"), col("doc_id")).as("keeper_id"),
        (coalesce(col("keeper"), col("doc_id")) === col("doc_id")).as("kept"))
  }

  /** Write the dedup verdicts joined back onto the full document
    * rows as a BUCKETED table keyed on keeper_id — "write the
    * pipeline output the way the next job wants to read it". Every
    * downstream per-cluster pass (cluster reports, keeper rollups,
    * per-cluster quality stats, the keeper⋈member self-join) then
    * scans pre-hash-partitioned storage and plans with ZERO
    * exchanges; at 100 TB that deletes a full corpus shuffle from
    * every consumer of the curated output. Labels come precomputed
    * (the [[applyDedupWith]] contract — never re-run the LSH chain
    * to apply verdicts it already produced); the payload join is a
    * plain doc_id equi-join with a label-sized right side.
    */
  def writeCurated(documents: DataFrame, comps: DataFrame,
                   table: String, buckets: Int = 16): Unit =
    graft.sources.Bucketed.write(
      documents.join(labelCore(documents, comps), Seq("doc_id")),
      table, "keeper_id", buckets)

  /** Exact n-gram (w=4) Jaccard self-join with prefix filtering:
    * order shingles by global frequency (rarest first), keep only the
    * first n − ⌈t·n⌉ + 1 per doc as join keys — any pair with
    * J ≥ t must collide on a prefix element (PPJoin bound), so the
    * output is exactly the all-pairs answer without the all-pairs
    * join.
    */
  def ngramJaccard(documents: DataFrame, threshold: Double = 0.5): DataFrame = {
    // w=4: a 4-token shingle space keeps bucket sizes near-uniform
    // even on a tiny vocabulary, so the prefix-filter join stays
    // near-linear (w=2 on a 40-word vocab put hundreds of docs in
    // every bucket → a quadratic candidate join).
    // Four consumers (freq, the ranked join and both verify joins) —
    // one materialized scan, same rationale as [[signedSets]].
    val sets = shingleSets(documents, 4).honestCheckpoint()
    val sh = shingleRows(sets)
    // Prefix ordering only has to be SOME consistent total order —
    // the PPJoin bound holds for any — so exact global counts are
    // only needed where they differ from 1. The repeated-shingle
    // table (count ≥ 2) is bounded by the duplicate mass, not the
    // corpus: broadcast it and default unseen shingles to f=1. This
    // keeps the corpus side of the ranked join unshuffled on s.
    val freq = sh.groupBy(col("s")).agg(count(lit(1)).as("f")).filter(col("f") >= 2)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("f"), col("s"))
    val ranked = sh.join(freq, Seq("s"), "left")
      .withColumn("f", coalesce(col("f"), lit(1L)))
      .withColumn("rk", row_number().over(w))
      .withColumn("n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))))
    // ceil over a double product can over-round (0.8*5 =
    // 4.0000000000000002 → ceil 5) and shorten the prefix below the
    // PPJoin bound, silently dropping true pairs. Subtracting an ulp
    // margin before ceil only ever LENGTHENS the prefix — safe.
    val prefix = ranked.filter(
      col("rk") <= col("n") - ceil(lit(threshold) * col("n") - lit(1e-9)) + 1)
      // Prefix rows are a (1−t) fraction of the shingle frame, narrow
      // (s, doc_id, f, rk, n). Both self-join sides consume it;
      // without materializing, each replays the broadcast-freq join +
      // ranking window (round-6 plan audit: 16 block reads).
      .honestCheckpoint()
    val cands = prefix.as("x").join(prefix.as("y"),
        col("x.s") === col("y.s") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b")).distinct()
    verifyJaccard(cands, sets, threshold).orderBy(col("a"), col("b"))
  }

  /** Asymmetric containment pairs: overlap coefficient
    * C = |A∩B| / min(|A|,|B|) ≥ threshold over w=4 shingle sets —
    * the quote-inclusion detector. A short document pasted inside a
    * long one scores C ≈ 1 but Jaccard ≈ |A|/|B| ≈ 0, so the
    * symmetric near-dup passes ([[ngramJaccard]], [[minhashLsh]])
    * structurally cannot see it; containment is the standard
    * companion pass in web-scale dedup.
    *
    * Candidate generation is the ONE-SIDED prefix filter: order
    * shingles rarest-first (same broadcast-freq ranking as
    * [[ngramJaccard]]), keep the first n − ⌈t·n⌉ + 1 per doc, and
    * join that prefix against the FULL inverted index restricted to
    * docs at least as large. Completeness: with |A| ≤ |B|, C ≥ t
    * needs ≥ ⌈t·|A|⌉ shared shingles; if none sat in A's prefix the
    * intersection would fit in the remaining ⌈t·|A|⌉ − 1 slots —
    * contradiction, so the prefix of the SMALLER side always hits
    * the intersection. (Probing the full index, not prefix×prefix,
    * is what the asymmetric bound costs: a one-sided filter is
    * inherent to containment, which is why this stays a separate
    * operator instead of a threshold knob on ngramJaccard.)
    * Candidate volume stays near-linear because the prefix holds the
    * doc's globally RAREST shingles — small inverted-index buckets —
    * and the size constraint (nx ≤ ny) halves the probe space.
    * Verification is the same set-based core as [[verifyJaccard]]
    * ([[scoredPairCounts]]), scored as inter/min instead of
    * inter/union.
    */
  def containment(documents: DataFrame, threshold: Double = 0.8): DataFrame = {
    val sets = shingleSets(documents, 4).honestCheckpoint()
    val sh = shingleRows(sets)
    val freq = sh.groupBy(col("s")).agg(count(lit(1)).as("f")).filter(col("f") >= 2)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("f"), col("s"))
    val ranked = sh.join(freq, Seq("s"), "left")
      .withColumn("f", coalesce(col("f"), lit(1L)))
      .withColumn("rk", row_number().over(w))
      .withColumn("n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))))
      .honestCheckpoint()
    // Same ulp-guarded ceil as ngramJaccard: the margin only ever
    // lengthens the prefix, never shortens it below the bound.
    val prefix = ranked.filter(
      col("rk") <= col("n") - ceil(lit(threshold) * col("n") - lit(1e-9)) + 1)
    // Probe side x = the prefix (smaller-or-equal doc), index side y =
    // ALL shingle rows of docs with ny ≥ nx. Ties in n keep both
    // orientations eligible; least/greatest + distinct collapses them.
    val cands = prefix.as("x").join(ranked.as("y"),
        col("x.s") === col("y.s") && col("x.doc_id") =!= col("y.doc_id") &&
          col("x.n") <= col("y.n"))
      .select(least(col("x.doc_id"), col("y.doc_id")).as("a"),
        greatest(col("x.doc_id"), col("y.doc_id")).as("b"))
      .distinct()
    scoredPairCounts(cands, sets)
      .withColumn("containment",
        round(col("inter").cast("double") / least(col("na"), col("nb")), 6) + lit(0.0))
      .filter(col("containment") >= threshold)
      .select(col("a"), col("b"), col("containment"))
      .orderBy(col("a"), col("b"))
  }
}
