package graft.streaming

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode, GroupState}

/** Incremental (streaming) exact deduplication — the continuous form
  * of [[graft.operators.Dedup.exact]] for an ever-growing corpus:
  * every arriving document is verdicted against all content EVER
  * seen, not just the current micro-batch.
  *
  * State is keyed by the content hash and holds ONE long (the keeper
  * doc_id) per distinct content — the same O(distinct) bound as the
  * batch aggregation, now resident in the state store and carried
  * across micro-batches/restarts by checkpointing. Within a batch the
  * keeper is the minimum doc_id (matching the batch operator); across
  * batches the FIRST-seen keeper wins — the incremental contract (a
  * later, smaller doc_id cannot retroactively re-keep content that
  * already streamed through downstream sinks).
  */
object DedupStream {

  case class Doc(doc_id: Long, text: String)

  /** keep = this doc is the canonical copy; keeper_id = the canonical
    * doc for its content (itself when keep).
    */
  case class Verdict(doc_id: Long, keep: Boolean, keeper_id: Long)

  /** Null text is a legal corpus shape (the batch operator's
    * md5(NULL) groups all nulls together); a sentinel key mirrors
    * that instead of NPE-poisoning the stream — a crashing record
    * would replay from the checkpoint forever.
    */
  private def contentHash(text: String): String =
    if (text == null) "__null__"
    else MessageDigest.getInstance("MD5").digest(text.getBytes(StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString

  def exactDedup(docs: Dataset[Doc]): Dataset[Verdict] = {
    import docs.sparkSession.implicits._
    docs
      .groupByKey(d => contentHash(d.text))
      .flatMapGroupsWithState[Long, Verdict](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: String, batch: Iterator[Doc], state: GroupState[Long]) =>
          val ids = batch.map(_.doc_id).toVector.sorted
          val keeper = state.getOption.getOrElse(ids.head)
          if (!state.exists) state.update(keeper)
          ids.iterator.map(id => Verdict(id, id == keeper, keeper))
      }
  }

  /** Timestamped input for the TTL-bounded dedup variant. */
  case class TsDoc(doc_id: Long, ts: java.sql.Timestamp, text: String)

  /** [[Verdict]] carrying the document's event time through, so a
    * windowed aggregation can be chained AFTER the dedup in the same
    * continuous query.
    */
  case class TsVerdict(doc_id: Long, ts: java.sql.Timestamp, keep: Boolean, keeper_id: Long)

  /** [[exactDedup]] preserving event time — identical keeper
    * semantics (first-seen wins across batches, min doc_id within a
    * batch), but the verdict keeps `ts` so downstream event-time
    * operators still see it.
    */
  def exactDedupTs(docs: Dataset[TsDoc]): Dataset[TsVerdict] = {
    import docs.sparkSession.implicits._
    docs
      .groupByKey(d => contentHash(d.text))
      .flatMapGroupsWithState[Long, TsVerdict](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: String, batch: Iterator[TsDoc], state: GroupState[Long]) =>
          val ds = batch.toVector.sortBy(_.doc_id)
          val keeper = state.getOption.getOrElse(ds.head.doc_id)
          if (!state.exists) state.update(keeper)
          ds.iterator.map(d => TsVerdict(d.doc_id, d.ts, d.doc_id == keeper, keeper))
      }
  }

  /** The composed ingestion pipeline: document stream → lifetime
    * exact dedup → windowed rollup of KEPT (canonical) documents, in
    * ONE continuous query. Spark permits a streaming aggregation
    * after an Append-mode flatMapGroupsWithState, so the file-source
    * log, the dedup keeper state, and the window state all live under
    * a single checkpoint and restore TOGETHER on restart — the seam a
    * two-query composition (separate checkpoints, an intermediate
    * sink) cannot make atomic.
    *
    * The watermark is declared on the dedup OUTPUT's `ts` — a
    * flatMapGroupsWithState produces fresh output attributes, so the
    * input's event-time tag does not survive it and the downstream
    * aggregation needs its own `withWatermark` (the documented
    * agg-after-fMGWS pattern). In append mode a window then emits
    * exactly once, when the watermark passes its end. Scale
    * shape matches the batch pair ([[graft.operators.Dedup.exact]] →
    * hourly rollup): dedup state is O(distinct content), window state
    * O(open windows), and the only shuffles are the content-hash
    * grouping and the window aggregation.
    */
  def dedupedRollup(docs: Dataset[TsDoc], watermarkDelay: String = "10 minutes",
                    windowLen: String = "1 hour"): DataFrame = {
    exactDedupTs(docs)
      .withWatermark("ts", watermarkDelay)
      .filter(col("keep"))
      .groupBy(window(col("ts"), windowLen))
      .agg(count(lit(1)).as("kept_docs"))
      .select(col("window.start").as("window_start"), col("kept_docs"))
  }

  /** [[exactDedup]] with EVENT-TIME TTL eviction — the variant for a
    * truly unbounded stream where O(distinct-content-ever) state is
    * not acceptable: a content key whose last sighting falls `ttl`
    * behind the watermark is evicted, bounding state to the distinct
    * content of a sliding window. The documented tradeoff: content
    * re-arriving after eviction is re-admitted as a FRESH keeper
    * (dedup recall is windowed, not lifetime) — the right contract
    * for retention-windowed corpora, crawl re-visits, and log streams
    * where old content no longer competes.
    */
  def exactDedupTtl(docs: Dataset[TsDoc], ttlMinutes: Int = 60,
                    watermarkDelay: String = "10 minutes"): Dataset[Verdict] = {
    import docs.sparkSession.implicits._
    docs
      .withWatermark("ts", watermarkDelay)
      .groupByKey(d => contentHash(d.text))
      // state carries (keeper, max event time EVER seen): recomputing
      // the timeout from only the current batch would let a late
      // in-watermark batch move the timeout EARLIER and evict before
      // last-sighting + TTL
      .flatMapGroupsWithState[(Long, Long), Verdict](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_: String, batch: Iterator[TsDoc], state: GroupState[(Long, Long)]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val ds = batch.toVector.sortBy(_.doc_id)
            val (keeper, prevMax) = state.getOption.getOrElse((ds.head.doc_id, Long.MinValue))
            val maxSeen = math.max(prevMax, ds.iterator.map(_.ts.getTime).max)
            state.update((keeper, maxSeen))
            // timeout may not be <= the current watermark; clamp up
            state.setTimeoutTimestamp(math.max(
              maxSeen + ttlMinutes * 60000L,
              state.getCurrentWatermarkMs() + 1))
            ds.iterator.map(d => Verdict(d.doc_id, d.doc_id == keeper, keeper))
          }
      }
  }

  /** A candidate near-dup pair, id-normalized (`a` is the smaller
    * doc_id, matching the batch operator's pair order — NOT arrival
    * order); est_jaccard is the matching fraction of the two 32-slot
    * MinHash signatures — an unbiased Jaccard estimate.
    */
  case class NearDupCandidate(a: Long, b: Long, est_jaccard: Double)

  // public: the typed Dataset encoder's generated deserializer must
  // be able to instantiate it from janino-compiled code
  case class BandedSig(doc_id: Long, band: Int, bucket: Long, sig: Seq[Long])

  /** Streaming near-duplicate detection — the incremental form of
    * [[graft.operators.Dedup.minhashLsh]]: every arriving document is
    * banded against all content EVER seen, using the SAME signature
    * family as the batch operator (w=3 shingles, 32 seeded-xxhash64
    * minhashes, 16 bands × 2 rows).
    *
    * Shingling and signatures are stateless row algebra (no
    * aggregation), so the only stateful stage is the bucket store:
    * state per (band, bucket) key is the (doc_id, signature) list of
    * documents that ever hashed there — the streaming equivalent of
    * the batch band-local candidate join. A new doc emits one
    * candidate per stored same-bucket doc with signature-estimated
    * Jaccard ≥ `minEstJaccard` (the sketch-level verify; the exact
    * shingle-set verify needs the full text corpus and belongs to a
    * batch reconciliation pass). The same pair can surface from
    * multiple bands — downstream consumers dedup on (a, b), which is
    * idempotent-sink-friendly. State grows with true bucket
    * occupancy, i.e. with the duplicate mass, matching the batch
    * design's candidate bound; random 64-bit buckets keep unrelated
    * docs apart at ~2⁻⁶⁴.
    */
  def nearDupCandidates(docs: DataFrame, minEstJaccard: Double = 0.8,
                        numHashes: Int = 32, bands: Int = 16): Dataset[NearDupCandidate] = {
    import docs.sparkSession.implicits._
    bandedSigs(docs, numHashes, bands)
      .as[BandedSig]
      .groupByKey(b => (b.band, b.bucket))
      .flatMapGroupsWithState[List[(Long, Seq[Long], Long)], NearDupCandidate](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: (Int, Long), batch: Iterator[BandedSig],
         state: GroupState[List[(Long, Seq[Long], Long)]]) =>
          val (stored, out) = foldBucket(state.getOption.getOrElse(Nil),
            batch.toVector.sortBy(_.doc_id).map(b => (b, 0L)),
            numHashes, minEstJaccard, pruneBelow = Long.MinValue)
          state.update(stored)
          out.iterator
      }
  }

  /** [[nearDupCandidates]] with EVENT-TIME TTL eviction — the
    * companion to [[exactDedupTtl]]. Eviction is PER-ENTRY, not
    * per-bucket: every invocation first prunes stored signatures
    * whose event time fell `ttl` behind the watermark, so a
    * continuously-warm bucket still sheds its old entries (a
    * bucket-level timeout alone would let one arrival per TTL keep
    * the whole list alive forever — unbounded state AND stale pairs).
    * The bucket's timeout (full removal) derives from the max event
    * time across ALL surviving entries, so a late in-watermark batch
    * can never move eviction earlier. State is bounded by the
    * sliding window's bucket occupancy; docs pair only with
    * window-mates (windowed recall).
    */
  def nearDupCandidatesTtl(docs: DataFrame, ttlMinutes: Int = 60,
                           watermarkDelay: String = "10 minutes",
                           minEstJaccard: Double = 0.8,
                           numHashes: Int = 32, bands: Int = 16): Dataset[NearDupCandidate] = {
    import docs.sparkSession.implicits._
    val ttlMs = ttlMinutes * 60000L
    bandedSigs(docs, numHashes, bands, tsCol = Some("ts"))
      .withWatermark("ts", watermarkDelay)
      .as[BandedSigTs]
      .groupByKey(b => (b.band, b.bucket))
      .flatMapGroupsWithState[List[(Long, Seq[Long], Long)], NearDupCandidate](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_: (Int, Long), batch: Iterator[BandedSigTs],
         state: GroupState[List[(Long, Seq[Long], Long)]]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val ds = batch.toVector.sortBy(_.doc_id)
            val (stored, out) = foldBucket(state.getOption.getOrElse(Nil),
              ds.map(d => (BandedSig(d.doc_id, d.band, d.bucket, d.sig), d.ts.getTime)),
              numHashes, minEstJaccard,
              pruneBelow = state.getCurrentWatermarkMs() - ttlMs)
            state.update(stored)
            state.setTimeoutTimestamp(math.max(
              stored.iterator.map(_._3).max + ttlMs,
              state.getCurrentWatermarkMs() + 1))
            out.iterator
          }
      }
  }

  case class BandedSigTs(doc_id: Long, ts: java.sql.Timestamp, band: Int,
                         bucket: Long, sig: Seq[Long])

  /** Stateless signature + banding stage shared by both near-dup
    * variants: one projection per document — the batch operator's
    * shingle and MinHash kernels ([[graft.functions.Hashing.minhash]]
    * over [[graft.functions.Hashing.shingles]]), so both detectors
    * sign a document identically — then one row per band. A document
    * with no shingles has a null signature and is never banded.
    */
  private def bandedSigs(docs: DataFrame, numHashes: Int, bands: Int,
                         tsCol: Option[String] = None): DataFrame = {
    import graft.functions.Hashing.{minhash, shingles}
    val rows = numHashes / bands
    val withSig = docs
      .withColumn("sig", minhash(shingles(col("text"), 3), numHashes))
      .filter(col("sig").isNotNull)
    // encoders resolve by name, so no reorder projection is needed
    withSig.select(Seq(col("doc_id")) ++ tsCol.map(c => col(c).as("ts")).toSeq ++ Seq(col("sig"),
        posexplode(array((0 until bands).map(j =>
          xxhash64((0 until rows).map(r => col("sig")(j * rows + r)): _*)): _*))
          .as(Seq("band", "bucket"))): _*)
  }

  /** A verified near-dup payload pair — id-normalized like
    * [[NearDupCandidate]], with the batch detector's exact
    * cross-multiplied ppm distance (the streaming state holds both
    * full histograms, so the verify runs INLINE — unlike the text
    * mirror, no batch reconciliation pass is needed).
    */
  case class PayloadNearDup(a: Long, b: Long, dist_ppm: Long)

  // public for the typed encoder's janino-generated deserializer
  case class PayloadSig(doc_id: Long, len: Long, hist: Seq[Long],
                        band: Int, probe: Int, sig: Long)

  /** Streaming payload near-duplicate detection — the incremental
    * form of [[graft.operators.Multimodal.payloadNearDupBanded]]:
    * every arriving binary payload is banded against all content
    * EVER seen, using the SAME signature algebra as the batch
    * operator (nibble histograms; 4 bands × 2 lattices, 1/`grid`
    * quantization via [[graft.operators.Multimodal.bandSigExpr]])
    * and the SAME exact integer verify, so an emitted pair carries
    * the identical dist_ppm the batch detector would emit.
    *
    * Input is any streaming (doc_id, payload binary) frame. The
    * stateless stage computes (len, hist) at scan speed
    * ([[graft.plans.NibbleHistogram]]) and explodes the 8 per-doc
    * band signatures; the only stateful stage is the bucket store,
    * keyed by (band, probe, sig), holding each bucket's
    * (doc_id, len, hist) residents — ~144 B/entry.
    *
    * The batch detector's `bucketCap` frequency cap is the STATE
    * BOUND here: once a bucket's lifetime occupancy exceeds the cap
    * (the degenerate-bucket signature — e.g. the zero-mass high
    * nibbles of an all-ASCII corpus), the bucket stops pairing AND
    * drops its resident list, degrading to an O(1) tombstone counter
    * — state is O(min(occupancy, cap)) per bucket, total
    * O(#buckets · cap), never corpus-sized. Divergence from batch,
    * documented: pairs emitted before the cap tripped stay emitted
    * (an append sink cannot retract), where the batch operator drops
    * the whole oversized bucket; on any corpus whose buckets stay
    * within the cap the two detectors' pair SETS are identical (the
    * batch-parity spec pins this). The same pair can surface from
    * multiple bands — consumers dedup on (a, b), idempotent-sink
    * style, exactly like [[nearDupCandidates]].
    */
  /** Stateless histogram + 8-signature banding stage shared by both
    * payload near-dup variants — one projection chain so the
    * lifetime and TTL mirrors (and their batch-parity contract)
    * cannot drift. `carry` columns (event time) ride through.
    */
  private def payloadSigs(payloads: DataFrame, grid: Long,
                          carry: Seq[String] = Nil): DataFrame = {
    import graft.operators.Multimodal
    val lead = col("doc_id") +: carry.map(col)
    Multimodal.histogramsOf(payloads, carry)
      .select(lead ++ Seq(col("len"), col("hist"),
        explode(array((for { b <- 0 until 4; p <- 0 until 2 } yield
          struct(lit(b).as("band"), lit(p).as("probe"),
            Multimodal.bandSigExpr(grid, b, p).as("sig"))): _*)).as("s")): _*)
      .select(lead ++ Seq(col("len"), col("hist"),
        col("s.band").as("band"), col("s.probe").as("probe"), col("s.sig").as("sig")): _*)
  }

  /** The batch detector's exact integer verify over one stored/
    * arriving pair — num = Σ|hᵃᵢ·lᵇ − hᵇᵢ·lᵃ|, ppm only on survivors
    * (num ≤ la·lb/den keeps num·10⁶ inside Long). One body for both
    * variants.
    */
  private def verifiedPair(aId: Long, aLen: Long, aHist: Seq[Long],
                           bId: Long, bLen: Long, bHist: Seq[Long],
                           thresholdDen: Long): Option[PayloadNearDup] =
    if (aId == bId) None
    else {
      var num = 0L
      var i = 0
      while (i < 16) {
        num += math.abs(aHist(i) * bLen - bHist(i) * aLen)
        i += 1
      }
      // multiplyExact: the batch column arithmetic errors LOUDLY
      // under ANSI when num·den leaves Long (caller-supplied den
      // ≳1400 with max-length payloads); raw * would silently wrap
      // here — keep the two engines' failure policy symmetric.
      if (Math.multiplyExact(num, thresholdDen) <= aLen * bLen)
        Some(PayloadNearDup(math.min(aId, bId), math.max(aId, bId),
          num * 1000000L / (aLen * bLen)))
      else None
    }

  def payloadNearDupCandidates(payloads: DataFrame, thresholdDen: Long = 200L,
                               grid: Long = 128L,
                               bucketCap: Long = 1024L): Dataset[PayloadNearDup] = {
    import payloads.sparkSession.implicits._
    payloadSigs(payloads, grid).as[PayloadSig]
      .groupByKey(s => (s.band, s.probe, s.sig))
      // state = (lifetime occupancy, residents); residents empty iff
      // the cap has tripped (the tombstone form)
      .flatMapGroupsWithState[(Long, List[(Long, Long, Seq[Long])]), PayloadNearDup](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: (Int, Int, Long), batch: Iterator[PayloadSig],
         state: GroupState[(Long, List[(Long, Long, Seq[Long])])]) =>
          var (seen, stored) = state.getOption.getOrElse((0L, Nil))
          val out = Vector.newBuilder[PayloadNearDup]
          batch.toVector.sortBy(_.doc_id).foreach { d =>
            seen += 1
            if (seen > bucketCap) stored = Nil // cap tripped: tombstone
            else {
              stored.foreach { case (oldId, oldLen, oldHist) =>
                out ++= verifiedPair(oldId, oldLen, oldHist,
                  d.doc_id, d.len, d.hist, thresholdDen)
              }
              stored = (d.doc_id, d.len, d.hist) :: stored
            }
          }
          state.update((seen, stored))
          out.result().iterator
      }
  }

  // public for the typed encoder's janino-generated deserializer
  case class PayloadSigTs(doc_id: Long, ts: java.sql.Timestamp, len: Long,
                          hist: Seq[Long], band: Int, probe: Int, sig: Long)

  /** [[payloadNearDupCandidates]] with EVENT-TIME TTL eviction — the
    * payload analog of [[nearDupCandidatesTtl]], same per-entry prune
    * discipline (a continuously-warm bucket still sheds entries that
    * fell `ttl` behind the watermark; the bucket's full-removal
    * timeout derives from the max surviving event time so a late
    * in-watermark batch can never move eviction earlier).
    *
    * The cap is WINDOW occupancy here, not lifetime: an arrival into
    * a bucket whose surviving residents already number `bucketCap`
    * neither pairs nor stores, and the bucket RECOVERS once entries
    * expire — the sliding-window reading of the batch frequency cap
    * (no tombstones; state stays ≤ cap entries per bucket by
    * construction). Docs pair only with window-mates.
    */
  def payloadNearDupCandidatesTtl(payloads: DataFrame, ttlMinutes: Int = 60,
                                  watermarkDelay: String = "10 minutes",
                                  thresholdDen: Long = 200L, grid: Long = 128L,
                                  bucketCap: Long = 1024L): Dataset[PayloadNearDup] = {
    import payloads.sparkSession.implicits._
    val ttlMs = ttlMinutes * 60000L
    payloadSigs(payloads, grid, carry = Seq("ts"))
      .withWatermark("ts", watermarkDelay)
      .as[PayloadSigTs]
      .groupByKey(s => (s.band, s.probe, s.sig))
      // state = residents (docId, len, hist, eventTimeMs), TTL-pruned
      .flatMapGroupsWithState[List[(Long, Long, Seq[Long], Long)], PayloadNearDup](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_: (Int, Int, Long), batch: Iterator[PayloadSigTs],
         state: GroupState[List[(Long, Long, Seq[Long], Long)]]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val pruneBelow = state.getCurrentWatermarkMs() - ttlMs
            var stored = state.getOption.getOrElse(Nil).filter(_._4 >= pruneBelow)
            val out = Vector.newBuilder[PayloadNearDup]
            batch.toVector.sortBy(_.doc_id).foreach { d =>
              if (stored.size < bucketCap) {
                stored.foreach { case (oldId, oldLen, oldHist, _) =>
                  out ++= verifiedPair(oldId, oldLen, oldHist,
                    d.doc_id, d.len, d.hist, thresholdDen)
                }
                stored = (d.doc_id, d.len, d.hist, d.ts.getTime) :: stored
              }
            }
            if (stored.isEmpty) state.remove()
            else {
              state.update(stored)
              state.setTimeoutTimestamp(math.max(
                stored.iterator.map(_._4).max + ttlMs,
                state.getCurrentWatermarkMs() + 1))
            }
            out.result().iterator
          }
      }
  }

  /** One bucket's fold: drop stored entries whose event time fell
    * below `pruneBelow` (Long.MinValue for the lifetime variant),
    * pair each arriving doc against the survivors, keep candidates at
    * or above the signature-estimated Jaccard cut, then store the
    * arrival with its event time. Shared by the lifetime and TTL
    * variants so their pairing semantics cannot drift.
    */
  private def foldBucket(stored0: List[(Long, Seq[Long], Long)],
                         ds: Seq[(BandedSig, Long)],
                         numHashes: Int, minEstJaccard: Double,
                         pruneBelow: Long)
      : (List[(Long, Seq[Long], Long)], Vector[NearDupCandidate]) = {
    var stored = if (pruneBelow == Long.MinValue) stored0
                 else stored0.filter(_._3 >= pruneBelow)
    val out = Vector.newBuilder[NearDupCandidate]
    ds.foreach { case (d, tsMs) =>
      stored.foreach { case (oldId, oldSig, _) =>
        if (oldId != d.doc_id) {
          val matches = oldSig.iterator.zip(d.sig.iterator).count { case (x, y) => x == y }
          val est = matches.toDouble / numHashes
          if (est >= minEstJaccard)
            out += NearDupCandidate(math.min(oldId, d.doc_id), math.max(oldId, d.doc_id), est)
        }
      }
      stored = (d.doc_id, d.sig, tsMs) :: stored
    }
    (stored, out.result())
  }
}
