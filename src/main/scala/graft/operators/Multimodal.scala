package graft.operators

import graft.functions.Exact.halfUpDiv
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.plans.HonestCheckpoint._

/** Multimodal-column plumbing (SURVEY §2 #32): treat media as opaque
  * `binary` columns + typed metadata, with decode/feature-extract as
  * distributed per-partition kernels.
  *
  * Header PARSING is real byte arithmetic — PNG / GIF / BMP carry
  * their dimensions at fixed offsets (big- and little-endian), and
  * the typed kernel additionally walks JPEG segment markers to SOF.
  * Only pixel DECODE would need a codec library (absent in this
  * container), so payloads are synthesized: the corpus has no image
  * bytes, and [[binaryMeta]] deterministically wraps each document's
  * text in a real PNG/GIF/BMP header (dimensions derived from
  * doc_id) before parsing it back. Both construction and parse are
  * pure byte algebra any engine replays — the oracle builds and
  * parses the identical bytes in DuckDB.
  */
object Multimodal {

  /** A "media file" row: opaque payload + metadata. */
  final case class MediaRow(doc_id: Long, payload: Array[Byte])

  /** Extracted features (the header-parse output schema). */
  final case class MediaMeta(doc_id: Long, n_bytes: Long, format: String,
                             width: Long, height: Long, channels: Long)

  /** Deterministic synthetic payload: doc_id picks the container
    * (mod 5: PNG, GIF89a, BMP, WebP/VP8X, TIFF/II), dimensions are
    * doc_id-derived, text bytes follow the header as the "pixel
    * data". Emitted as a real `binary` column via unhex so everything
    * downstream exercises binary plumbing, not strings.
    *
    * WebP is the RIFF extended-format layout (VP8X chunk: canvas
    * width−1 / height−1 as u24le, alpha flag 0x10 on even doc_ids);
    * TIFF is a little-endian ("II") file with one IFD @8 carrying
    * SHORT entries for ImageWidth(256) / ImageLength(257) /
    * SamplesPerPixel(277) — real layouts per their public specs.
    */
  def synthesize(documents: DataFrame): DataFrame = {
    def byteHexLe(c: Column, nBytes: Int): Column =
      concat((0 until nBytes).map(k =>
        lpad(hex(shiftright(c, 8 * k) % 256), 2, "0")): _*)
    val w = (col("doc_id") % 1000 + 1).cast("long")
    val h = (col("doc_id") % 777 + 1).cast("long")
    val png = concat(
      lit("89504E470D0A1A0A"), // magic
      lit("0000000D49484452"), // IHDR length 13 + "IHDR"
      lpad(hex(w), 8, "0"), lpad(hex(h), 8, "0"), // big-endian u32 dims
      lit("0802000000")) // bit depth 8, color type 2 (truecolor), c/f/i
    val gif = concat(
      lit("474946383961"), // "GIF89a"
      byteHexLe(w, 2), byteHexLe(h, 2)) // little-endian u16 dims
    val bmp = concat(
      lit("424D"), lit("0" * 24), // "BM", size/reserved/offset zeroed
      lit("28000000"), // BITMAPINFOHEADER size 40
      byteHexLe(w, 4), byteHexLe(h, 4)) // little-endian i32 dims
    val webp = concat(
      lit("52494646"), lit("00000000"), // "RIFF", size zeroed
      lit("57454250"), lit("56503858"), // "WEBP", "VP8X"
      lit("0A000000"), // VP8X chunk length 10 (u32le)
      when(col("doc_id") % 2 === 0, lit("10")).otherwise(lit("00")), // alpha flag
      lit("000000"), // reserved
      byteHexLe(w - 1, 3), byteHexLe(h - 1, 3)) // canvas−1, u24le
    val tiff = concat(
      lit("49492A00"), lit("08000000"), // "II", magic 42, IFD @ 8
      lit("0300"), // 3 IFD entries (u16le)
      lit("0001"), lit("0300"), lit("01000000"), byteHexLe(w, 4), // 256 ImageWidth SHORT
      lit("0101"), lit("0300"), lit("01000000"), byteHexLe(h, 4), // 257 ImageLength SHORT
      lit("1501"), lit("0300"), lit("01000000"), lit("03000000"), // 277 SamplesPerPixel = 3
      lit("00000000")) // next-IFD terminator
    val headerHex = when(col("doc_id") % 5 === 0, png)
      .when(col("doc_id") % 5 === 1, gif)
      .when(col("doc_id") % 5 === 2, bmp)
      .when(col("doc_id") % 5 === 3, webp)
      .otherwise(tiff)
    documents.select(col("doc_id"),
      unhex(concat(headerHex, hex(col("text")))).as("payload"))
  }

  /** Parse container magic + dimensions from the byte layout — pure
    * Column algebra over hex(payload): byte k of the payload is hex
    * chars [2k−1, 2k], big-endian fields read left-to-right,
    * little-endian fields reverse byte pairs. No codec, no UDF; the
    * whole parse stays inside whole-stage codegen.
    *
    * Offsets (1-based bytes): PNG w/h = u32be @17/@21, color type
    * @26 (→ channels 0→1, 2→3, 4→2, 6→4); GIF w/h = u16le @7/@9
    * (palette → 3 channels); BMP w/h = i32le @19/@23 (synthesized
    * 24bpp → 3); WebP/VP8X w/h = u24le canvas−1 @25/@28, alpha flag
    * bit 0x10 @21 (→ 4 channels else 3); TIFF ("II", IFD @8 with
    * the synthesized 3-entry layout) w/h = SHORT values @19/@31,
    * samples @43 — the GENERAL IFD walk lives in [[parseHeader]];
    * the Column path reads the fixed layout [[synthesize]] emits,
    * like the other containers. Digest is md5 of the hex (DuckDB's
    * md5 is VARCHAR-only, so the oracle-parity digest hashes the hex
    * form).
    *
    * The doc_id sort runs on the scan rows, before the synthesis and
    * the parse (the [[TextOps]] rule): the sort's range sampler then
    * evaluates neither, and both run once, after the shuffle.
    */
  def binaryMeta(documents: DataFrame): DataFrame =
    binaryMetaCols(documents.orderBy(col("doc_id")))

  /** [[binaryMeta]]'s per-row parse, in the input's row order. */
  private def binaryMetaCols(documents: DataFrame): DataFrame = {
    val media = synthesize(documents)
    val hx = hex(col("payload"))
    def be(startByte: Int, nBytes: Int): Column =
      conv(substring(hx, (startByte - 1) * 2 + 1, nBytes * 2), 16, 10).cast("long")
    def le(startByte: Int, nBytes: Int): Column =
      conv(concat(((nBytes - 1) to 0 by -1).map(k =>
        substring(hx, (startByte - 1 + k) * 2 + 1, 2)): _*), 16, 10).cast("long")
    val isPng = substring(hx, 1, 16) === "89504E470D0A1A0A"
    val isGif = substring(hx, 1, 12).isin("474946383761", "474946383961")
    val isBmp = substring(hx, 1, 4) === "424D"
    val isWebp = substring(hx, 1, 8) === "52494646" &&
      substring(hx, 17, 8) === "57454250" && substring(hx, 25, 8) === "56503858"
    val isTiff = substring(hx, 1, 8).isin("49492A00", "4D4D002A")
    media.select(
        col("doc_id"),
        length(col("payload")).cast("long").as("n_bytes"),
        md5(hx).as("digest"),
        when(isPng, "png").when(isGif, "gif").when(isBmp, "bmp")
          .when(isWebp, "webp").when(isTiff, "tiff")
          .otherwise("unknown").as("format"),
        when(isPng, be(17, 4)).when(isGif, le(7, 2)).when(isBmp, le(19, 4))
          .when(isWebp, le(25, 3) + 1).when(isTiff, le(19, 2)).as("width"),
        when(isPng, be(21, 4)).when(isGif, le(9, 2)).when(isBmp, le(23, 4))
          .when(isWebp, le(28, 3) + 1).when(isTiff, le(31, 2)).as("height"),
        when(isPng, // color type → sample count
          when(be(26, 1) === 0, 1L).when(be(26, 1) === 2, 3L)
            .when(be(26, 1) === 4, 2L).when(be(26, 1) === 6, 4L))
          .when(isGif, 3L).when(isBmp, 3L)
          .when(isWebp, when(be(21, 1).bitwiseAND(16) =!= 0, 4L).otherwise(3L))
          .when(isTiff, le(43, 2)).as("channels"))
      .withColumn("n_pixels", (col("width") * col("height")).cast("long"))
  }

  /** Decode-free resize PLANNER — the metadata half of the resize
    * step in an image-training pipeline: aspect-preserving letterbox
    * fit of each image into a `target`×`target` box, from the header
    * dimensions alone. Emits the scaled size (tie-exact half-up
    * w·t/h, [[graft.functions.Exact.halfUpDiv]], clamped to ≥ 1 px),
    * the centering pads, and an
    * upscale flag. The pixel resample itself needs a codec (out of
    * scope, like pixel decode in [[decodePipeline]]); at 100 TB this
    * planner is the cheap metadata pass that sizes batches and
    * buffers BEFORE any pixel work is scheduled.
    */
  def resizePlan(documents: DataFrame, target: Int = 224): DataFrame = {
    val t = lit(target.toLong)
    binaryMetaCols(documents.orderBy(col("doc_id")))
      .select(col("doc_id"), col("format"), col("width"), col("height"),
        when(col("width") >= col("height"), t)
          .otherwise(greatest(lit(1L), halfUpDiv("width", "height", target)))
          .as("out_w"),
        when(col("width") >= col("height"),
          greatest(lit(1L), halfUpDiv("height", "width", target)))
          .otherwise(t).as("out_h"))
      .select(col("doc_id"), col("format"), col("width"), col("height"),
        col("out_w"), col("out_h"),
        expr(s"($target - out_w) DIV 2").as("pad_left"),
        expr(s"($target - out_h) DIV 2").as("pad_top"),
        (col("width") < t && col("height") < t).as("upscale"))
  }

  /** Feature-extraction stub with REAL distributed plumbing: a 16-bin
    * byte-class histogram per payload (high nibble of each byte — a
    * deterministic, decode-free stand-in for the per-image feature
    * vector a codec-backed extractor would emit). All 16 bin counts
    * are computed INSIDE the row over the hex form (`size(filter(…))`
    * per bin — no per-byte explode, so the shuffle carries 16 rows
    * per document, not one row per byte; at 100 TB that is the
    * difference between a metadata-sized and a corpus-sized
    * exchange). Bins with zero hits are emitted (fixed 16-row shape
    * per doc — the downstream feature matrix is dense).
    */
  def byteHistogram(documents: DataFrame): DataFrame =
    synthesize(documents)
      .select(col("doc_id"),
        posexplode(graft.plans.NibbleHistogram.nibbleHistogram(col("payload")))
          .as(Seq("bin", "n")))
      .select(col("doc_id"), col("bin").cast("long").as("bin"), col("n"))
      .orderBy(col("doc_id"), col("bin"))

  /** Near-duplicate payload pairs by byte-class histogram distance —
    * the decode-free perceptual-dup pass of an image/media pipeline
    * (the pHash-bucket analog): two payloads whose length-normalized
    * 16-bin nibble histograms sit within `1/thresholdDen` L1 distance
    * are near-dups. ENTIRELY integer arithmetic: normalized L1 ≤ 1/t
    * ⟺ t·Σᵢ|hᵃᵢ·lenᵇ − hᵇᵢ·lenᵃ| ≤ lenᵃ·lenᵇ (cross-multiplied — no
    * division, bit-exact in any engine), and the reported distance is
    * integer-floor ppm. The 16-term sum is UNROLLED over `element_at`
    * columns so it stays inside whole-stage codegen (a `zip_with`/
    * `aggregate` HOF here would run interpreted per pair — the §5
    * perf trap).
    *
    * Scale shape mirrors [[graft.operators.Similarity.embeddingNearDup]]:
    * the histogram frame is metadata-sized (17 longs/doc, computed by
    * the one-pass [[graft.plans.NibbleHistogram]] kernel at scan
    * speed), and the Θ(n²) pair space is spread over a block-pair
    * triangle equi-join — no BNLJ, no cartesian, no full-corpus
    * broadcast. The same auto-sizing rule applies (~200k rows per
    * block side), though a histogram row is ~20× smaller than an
    * embedding row.
    */
  def payloadNearDup(documents: DataFrame, thresholdDen: Long = 200L,
                     blocks: Int = 0): DataFrame = {
    val hists = payloadHistograms(documents)
    val b =
      if (blocks > 0) blocks
      else {
        val n = documents.select(col("doc_id")).count()
        math.max(16L, (n + 199999L) / 200000L).toInt
      }
    // Materialize the (len, hist) frame ONCE: both join sides read it,
    // and the synthesize+histogram subtree would otherwise be evaluated
    // once per side (it is the only payload decode in the operator).
    val e = hists.withColumn("blk", pmod(xxhash64(col("doc_id")), lit(b)).cast("int"))
      .honestCheckpoint()
    // Spread the triangle fan-out: the pair-eval work below is Θ(n²/2)
    // while the histogram frame is metadata-sized, so its scan
    // parallelism (1 task on a single-row-group parquet; the broadcast
    // join keeps the stream side's partitioning) would serialize the
    // whole quadratic evaluation on one core — measured 6.4 s of a
    // 7.0 s bench wall in ONE task at sf0.1. Round-robin over the
    // default parallelism BEFORE the explode shuffles only n metadata
    // rows, never the exploded fan or the pair space (guide §2.4/§2.6).
    val sideA = Spread(e)
      .select(col("doc_id").as("ia"), col("len").as("la"),
        col("hist").as("ha"), col("blk").as("bi"))
      .withColumn("bj", explode(sequence(col("bi"), lit(b - 1))))
    val sideB = e.select(col("doc_id").as("ib"), col("len").as("lb"),
        col("hist").as("hb"), col("blk").as("bj"))
      .withColumn("bi", explode(sequence(lit(0), col("bj"))))
    val num = (0 until 16).map(i =>
      abs(element_at(col("ha"), i + 1) * col("lb")
        - element_at(col("hb"), i + 1) * col("la"))).reduce(_ + _)
    sideA.join(sideB, Seq("bi", "bj"))
      .filter(col("bi") =!= col("bj") || col("ia") < col("ib"))
      .withColumn("num", num)
      .filter(col("num") * thresholdDen <= col("la") * col("lb"))
      .select(least(col("ia"), col("ib")).as("a"), greatest(col("ia"), col("ib")).as("b"),
        expr("(num * 1000000) DIV (la * lb)").as("dist_ppm"))
      .orderBy(col("a"), col("b"))
  }

  /** Per-payload (doc_id, len, hist) frame shared by the near-dup
    * detectors. Exactness domain, enforced LOUDLY (the addExact/2^52
    * policy): num = Σ|hᵃᵢ·lᵇ − hᵇᵢ·lᵃ| ≤ 2·lᵃ·lᵇ, and the ppm
    * projection computes num·10⁶ on pairs that survive
    * num·den ≤ lᵃ·lᵇ, i.e. num ≤ lᵃ·lᵇ/den — so Long holds
    * everything iff lᵃ·lᵇ ≤ 9.2e18·den/10⁶; at den = 200 that is
    * ~1.8e15, met by capping each payload at 4e7 bytes (40 MB). A
    * payload past the cap (or empty — it would reach the DIV as a 0
    * divisor) errors loudly instead of overflowing or crashing
    * mid-plan. The guard rides the len projection so column pruning
    * cannot drop it.
    */
  private def payloadHistograms(documents: DataFrame): DataFrame =
    histogramsOf(synthesize(documents))

  /** The (doc_id, len, hist) projection over ANY (doc_id, payload)
    * frame — shared with the STREAMING near-dup mirrors
    * ([[graft.streaming.DedupStream.payloadNearDupCandidates]]), so
    * the batch and streaming detectors quantize identical inputs.
    * `carry` columns (e.g. the streaming event time) project through
    * unchanged — a streaming caller cannot re-join them afterward
    * without a stream-stream self-join.
    */
  private[graft] def histogramsOf(payloads: DataFrame,
                                  carry: Seq[String] = Nil): DataFrame = {
    val lenRaw = length(col("payload")).cast("long")
    val lenGuarded = when(lenRaw.between(1L, 40000000L), lenRaw)
      .otherwise(raise_error(format_string(
        "payload_neardup: payload length %d outside the exact-ppm Long bound [1, 4e7]",
        lenRaw)).cast("long"))
    payloads.select(
      col("doc_id") +: carry.map(col) :+
        lenGuarded.as("len") :+
        graft.plans.NibbleHistogram.nibbleHistogram(col("payload")).as("hist"): _*)
  }

  /** One band's packed lattice signature over (`hist`, `len`)
    * columns — the [[payloadNearDupBanded]] quantization, factored so
    * the streaming mirror reuses the identical algebra (any drift
    * would silently break batch-parity).
    */
  private[graft] def bandSigExpr(grid: Long, band: Int, probe: Int): Column = {
    require(grid > 0 && grid <= 255L, s"grid must be in [1, 255], got $grid")
    (0 until 4).map { k =>
      val h = s"hist[${4 * band + k}]"
      val q =
        if (probe == 0) expr(s"($h * $grid) DIV len")
        else halfUpDiv(h, "len", grid)
      q * math.pow(256.0, 3 - k).toLong
    }.reduce(_ + _)
  }

  /** Sub-quadratic companion to [[payloadNearDup]] — the banded
    * (pigeonhole) histogram-signature detector, the payload analog of
    * the simhash band trick ([[graft.operators.Dedup.simhash]]) in
    * nibble-histogram space.
    *
    * Candidate generation: the 16 bins split into 4 bands of 4; each
    * band's signature quantizes its bins' length-normalized values to
    * a 1/`grid` lattice — PURE INTEGER floor((hᵢ·G) / len) — packed
    * into one Long. Two lattices per band (offset 0 and half-step,
    * floor((2·hᵢ·G + len) / (2·len))) so a true pair split by a cell
    * boundary in one lattice collides in the shifted one: for a pair
    * within the 1/`thresholdDen` L1 threshold, SOME band carries
    * ≤ 1/(4·den) of the distance (pigeonhole), its per-bin deltas sit
    * well under the half-step, and a bin pair that close is split by
    * at most ONE of the two lattices — so non-collision needs
    * opposite-lattice splits in the same band across all 4 bands, a
    * measured-rare event (the recall spec pins it). Precision is
    * exactly 1.0: every candidate passes the SAME cross-multiplied
    * integer verify as the exact detector, so emitted rows are a
    * subset of [[payloadNearDup]]'s with identical values.
    *
    * Scale shape: signatures are 8 rows × 3 longs per doc (metadata-
    * sized), candidates come from an equi-join on (band, lattice,
    * signature) — hash-partitioned, NO block-pair triangle, no Θ(n²)
    * pair space. Degenerate buckets are the residual quadratic risk:
    * an all-ASCII corpus has zero mass in nibble bins 8–F, so bands
    * 2–3 collapse to one corpus-sized bucket (measured: 38.7M of the
    * 38.8M raw candidate pairs at sf0.1 came from those four
    * buckets). The `bucketCap` frequency cap drops buckets larger
    * than the cap from candidate generation — total candidate volume
    * is then O(#buckets · cap²) instead of Θ(n²). Recall survives
    * because an oversized bucket is a band where the corpus (and so
    * any true pair) is near-identical — that band contributes ~0 of
    * the pair's distance, leaving the full threshold budget to the
    * informative bands, whose per-bin deltas then sit even deeper
    * inside the half-step collision guarantee. The recall spec pins
    * this; the verify join carries ids only until the final
    * histogram re-join.
    */
  def payloadNearDupBanded(documents: DataFrame, thresholdDen: Long = 200L,
                           grid: Long = 128L, bucketCap: Long = 1024L): DataFrame = {
    val hists = payloadHistograms(documents)
    // Packed band signature: 4 quantized bins × 8 bits (q ≤ grid ≤ 255).
    val sigs = hists.select(col("doc_id"),
        explode(array((for { b <- 0 until 4; p <- 0 until 2 } yield
          struct(lit(b).as("band"), lit(p).as("probe"),
            bandSigExpr(grid, b, p).as("sig"))): _*)).as("s"))
      .select(col("doc_id"), col("s.band").as("band"),
        col("s.probe").as("probe"), col("s.sig").as("sig"))
    val capped = sigs
      .withColumn("bsz", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("band", "probe", "sig")))
      .filter(col("bsz") <= bucketCap)
      .drop("bsz")
    val cand = capped.select(col("band"), col("probe"), col("sig"), col("doc_id").as("ia"))
      .join(capped.select(col("band"), col("probe"), col("sig"), col("doc_id").as("ib")),
        Seq("band", "probe", "sig"))
      .filter(col("ia") < col("ib"))
      .select(col("ia"), col("ib"))
      .distinct()
    val a = hists.select(col("doc_id").as("ia"), col("len").as("la"), col("hist").as("ha"))
    val b = hists.select(col("doc_id").as("ib"), col("len").as("lb"), col("hist").as("hb"))
    val num = (0 until 16).map(i =>
      abs(element_at(col("ha"), i + 1) * col("lb")
        - element_at(col("hb"), i + 1) * col("la"))).reduce(_ + _)
    cand.join(a, "ia").join(b, "ib")
      .withColumn("num", num)
      .filter(col("num") * thresholdDen <= col("la") * col("lb"))
      .select(col("ia").as("a"), col("ib").as("b"),
        expr("(num * 1000000) DIV (la * lb)").as("dist_ppm"))
      .orderBy(col("a"), col("b"))
  }

  /** Audio/video "media file" metadata row. Format-inapplicable
    * fields are 0 (audio has no frame dims; the video track header
    * carries no sample rate).
    */
  final case class AvMeta(doc_id: Long, n_bytes: Long, format: String,
                          sample_rate: Long, channels: Long, bit_depth: Long,
                          width: Long, height: Long)

  /** Deterministic synthetic audio/video payload — the WAV / MP4 /
    * FLAC / Ogg counterpart of [[synthesize]] (multimodal training
    * data is not only images): doc_id picks the container (mod 4),
    * the codec parameters are doc_id-derived, text bytes follow as
    * the "sample data". Real layouts per the public specs:
    *
    *  - WAV: RIFF/WAVE with a 16-byte PCM `fmt ` chunk (audio format
    *    1, channels u16le, sample rate u32le, byte rate, block align,
    *    bits per sample) and a `data` chunk sized to the text.
    *  - MP4: ISO-BMFF `ftyp` (isom) then `moov` > `trak` > `tkhd`
    *    v0 (92-byte box; width/height as 16.16 fixed-point u32be at
    *    offsets 84/88 inside the box).
    *  - FLAC: `fLaC` magic + a last-flagged STREAMINFO metadata
    *    block (34 bytes: block sizes, frame sizes, then the packed
    *    sample-rate(20b)/channels−1(3b)/bps−1(5b)/total-samples(36b)
    *    field, zeroed MD5).
    *  - Ogg: a BOS page (version 0, header type 0x02, doc_id serial,
    *    1-segment table) whose first packet is the codec
    *    identification header — alternating OpusHead (19 bytes:
    *    version 1, channels u8 @9, pre-skip, original input rate
    *    u32le @12, gain, mapping family) and ␁vorbis (30 bytes:
    *    version u32le, channels u8 @11, rate u32le @12, bitrates,
    *    blocksizes, framing bit) by doc_id mod 8.
    */
  def synthesizeAv(documents: DataFrame): DataFrame = {
    def byteHexLe(c: Column, nBytes: Int): Column =
      concat((0 until nBytes).map(k =>
        lpad(hex(shiftright(c, 8 * k) % 256), 2, "0")): _*)
    def byteHexBe(c: Column, nBytes: Int): Column =
      concat(((nBytes - 1) to 0 by -1).map(k =>
        lpad(hex(shiftright(c, 8 * k) % 256), 2, "0")): _*)
    val dataLen = length(col("text")).cast("long")
    val ch = (col("doc_id") % 2 + 1).cast("long")
    val sr = ((col("doc_id") % 5 + 1) * 8000L).cast("long")
    val bps = ((col("doc_id") % 3 + 1) * 8L).cast("long")
    val wav = concat(
      lit("52494646"), byteHexLe(dataLen + 36L, 4), lit("57415645"), // RIFF size WAVE
      lit("666D7420"), lit("10000000"), lit("0100"), // "fmt " len=16 pcm
      byteHexLe(ch, 2), byteHexLe(sr, 4),
      byteHexLe((sr * ch * bps / 8L).cast("long"), 4), // exact: bps is a multiple of 8
      byteHexLe((ch * bps / 8L).cast("long"), 2),
      byteHexLe(bps, 2),
      lit("64617461"), byteHexLe(dataLen, 4)) // "data" size
    val w = (col("doc_id") % 1920 + 1).cast("long")
    val h = (col("doc_id") % 1080 + 1).cast("long")
    val tkhd = concat(
      lit("0000005C"), lit("746B6864"), // size 92, "tkhd"
      lit("00000007"), // version 0, flags enabled|in-movie|in-preview
      lit("00000000"), lit("00000000"), lit("00000001"), lit("00000000"), // times, track 1
      lit("00000000"), lit("0" * 16), // duration, reserved u64
      lit("00000000"), lit("01000000"), // layer+altgroup, volume+reserved
      // identity matrix: 0x10000, 0, 0 / 0, 0x10000, 0 / 0, 0, 0x40000000
      lit("000100000000000000000000" + "000000000001000000000000" + "000000000000000040000000"),
      byteHexBe(w, 2), lit("0000"), byteHexBe(h, 2), lit("0000")) // 16.16 fixed
    val mp4 = concat(
      lit("00000010"), lit("66747970"), lit("69736F6D"), lit("00000000"), // ftyp isom
      lit("0000006C"), lit("6D6F6F76"), // moov size 108
      lit("00000064"), lit("7472616B"), // trak size 100
      tkhd)
    val flac = concat(
      lit("664C6143"), // "fLaC"
      lit("80"), lit("000022"), // last-block | STREAMINFO, length 34
      lit("10001000"), lit("000000"), lit("000000"), // block sizes 4096, frame sizes 0
      // packed: sr(20) ch-1(3) bps-1(5) samples(36); samples = dataLen
      lpad(hex(shiftright(sr, 12)), 2, "0"),
      lpad(hex(shiftright(sr, 4) % 256), 2, "0"),
      lpad(hex((sr % 16) * 16 + (ch - 1) * 2 + shiftright(bps - 1, 4)), 2, "0"),
      lpad(hex(((bps - 1) % 16) * 16 + (shiftright(dataLen, 32) % 16)), 2, "0"),
      byteHexBe(dataLen % 4294967296L, 4),
      lit("0" * 32)) // zeroed MD5
    // Ogg BOS page: "OggS" ver(0) type(BOS) granule(8B) serial(4B le)
    // seq(4B) crc(4B, unchecked here) nSegs(1) segtable(1 segment =
    // the codec id packet length: 19 for OpusHead, 30 for ␁vorbis)
    val opusPacket = concat(
      lit("4F70757348656164"), lit("01"), // "OpusHead", version 1
      byteHexLe(ch, 1), lit("0000"), // channels, pre-skip
      byteHexLe(sr, 4), lit("0000"), lit("00")) // input rate, gain, mapping 0
    val vorbisPacket = concat(
      lit("01"), lit("766F72626973"), lit("00000000"), // \x01vorbis, version 0
      byteHexLe(ch, 1), byteHexLe(sr, 4), // channels, rate
      lit("0" * 24), lit("B8"), lit("01")) // bitrates, blocksizes, framing
    val ogg = concat(
      lit("4F676753"), lit("00"), lit("02"), lit("0" * 16), // magic ver BOS granule
      byteHexLe((col("doc_id") % 4294967296L).cast("long"), 4), // serial
      lit("00000000"), lit("00000000"), lit("01"), // seq, crc, nSegs
      when(col("doc_id") % 8 === 3, concat(lit("13"), opusPacket))
        .otherwise(concat(lit("1E"), vorbisPacket)))
    val headerHex = when(col("doc_id") % 4 === 0, wav)
      .when(col("doc_id") % 4 === 1, mp4)
      .when(col("doc_id") % 4 === 2, flac)
      .otherwise(ogg)
    documents.select(col("doc_id"),
      unhex(concat(headerHex, hex(col("text")))).as("payload"))
  }

  /** Parse the audio/video container metadata back out of the byte
    * layout — pure Column algebra over hex(payload), like
    * [[binaryMeta]]: the Column path reads the fixed layout
    * [[synthesizeAv]] emits (the GENERAL chunk/box/block walks live
    * in [[parseAvHeader]], spec-gated against this path).
    *
    * Offsets (1-based bytes): WAV channels u16le @23, sample rate
    * u32le @25, bits u16le @35; MP4 tkhd starts @33, width/height =
    * 16.16 u32be @117/@121 (integer part = DIV 65536); FLAC packed
    * field @19-22: sr = b19·2¹² + b20·2⁴ + b21 DIV 16, channels =
    * (b21 DIV 2) & 7 + 1, bps = (b21 & 1)·16 + b22 DIV 16 + 1; Ogg
    * codec packet starts @29 after the 1-segment BOS page header —
    * OpusHead channels u8 @38, rate u32le @41; ␁vorbis channels u8
    * @40, rate u32le @41 (bit_depth stays 0: lossy codecs have no
    * fixed sample width). Like [[binaryMeta]], it sorts the scan rows
    * first, so synthesis and parse run once, after the sort.
    */
  def avMeta(documents: DataFrame): DataFrame = {
    val media = synthesizeAv(documents.orderBy(col("doc_id")))
    val hx = hex(col("payload"))
    def be(startByte: Int, nBytes: Int): Column =
      conv(substring(hx, (startByte - 1) * 2 + 1, nBytes * 2), 16, 10).cast("long")
    def le(startByte: Int, nBytes: Int): Column =
      conv(concat(((nBytes - 1) to 0 by -1).map(k =>
        substring(hx, (startByte - 1 + k) * 2 + 1, 2)): _*), 16, 10).cast("long")
    val isWav = substring(hx, 1, 8) === "52494646" && substring(hx, 17, 8) === "57415645"
    val isMp4 = substring(hx, 9, 8) === "66747970"
    val isFlac = substring(hx, 1, 8) === "664C6143"
    val isOgg = substring(hx, 1, 8) === "4F676753"
    val isOpus = substring(hx, 57, 16) === "4F70757348656164"
    val isVorbis = substring(hx, 57, 2) === "01" && substring(hx, 59, 12) === "766F72626973"
    media.select(
        col("doc_id"),
        length(col("payload")).cast("long").as("n_bytes"),
        when(isWav, "wav").when(isMp4, "mp4").when(isFlac, "flac")
          .when(isOgg, "ogg").otherwise("unknown").as("format"),
        be(19, 1).as("b19"), be(20, 1).as("b20"), be(21, 1).as("b21"), be(22, 1).as("b22"),
        when(isWav, le(23, 2)).as("wav_ch"), when(isWav, le(25, 4)).as("wav_sr"),
        when(isWav, le(35, 2)).as("wav_bps"),
        when(isMp4, be(117, 4)).as("wfix"), when(isMp4, be(121, 4)).as("hfix"),
        when(isOgg && (isOpus || isVorbis), le(41, 4)).as("ogg_sr"),
        when(isOgg, when(isOpus, be(38, 1)).when(isVorbis, be(40, 1)).otherwise(0L))
          .as("ogg_ch"))
      .select(col("doc_id"), col("n_bytes"), col("format"),
        when(col("format") === "wav", col("wav_sr"))
          .when(col("format") === "flac",
            col("b19") * 4096L + col("b20") * 16L + expr("b21 DIV 16"))
          .when(col("format") === "ogg", coalesce(col("ogg_sr"), lit(0L)))
          .otherwise(0L).as("sample_rate"),
        when(col("format") === "wav", col("wav_ch"))
          .when(col("format") === "flac", expr("(b21 DIV 2) % 8") + 1L)
          .when(col("format") === "ogg", coalesce(col("ogg_ch"), lit(0L)))
          .otherwise(0L).as("channels"),
        when(col("format") === "wav", col("wav_bps"))
          .when(col("format") === "flac", (col("b21") % 2) * 16L + expr("b22 DIV 16") + 1L)
          .otherwise(0L).as("bit_depth"),
        when(col("format") === "mp4", expr("wfix DIV 65536")).otherwise(0L).as("width"),
        when(col("format") === "mp4", expr("hfix DIV 65536")).otherwise(0L).as("height"))
  }

  /** Frame sampling over binary payloads: split each payload into
    * fixed-size frames (a stand-in for video GOP/frame boundaries),
    * keep every Nth, emit per-frame metadata. Pure Column algebra —
    * `sequence`+`transform`+`posexplode` — so the fan-out happens
    * executor-side at scan speed with no UDF; the frame list is never
    * materialized per row beyond the generator.
    */
  def frameSample(documents: DataFrame, frameBytes: Int = 16, everyN: Int = 4): DataFrame = {
    val n = length(col("text"))
    // (n-1)/frameBytes is DOUBLE division; for n=0 it truncates to 0
    // and sequence(0,0) would fabricate one empty frame (and the
    // oracle's floor division would not). Count frames with integer
    // arithmetic and guard empty payloads to an empty array.
    val nFrames = ((n + (frameBytes - 1)).cast("long") / frameBytes).cast("int")
    val frames = when(n > 0,
      transform(sequence(lit(0), nFrames - 1),
        i => col("text").substr(i * frameBytes + 1, lit(frameBytes))))
      .otherwise(array().cast("array<string>"))
    documents
      .select(col("doc_id"), posexplode(frames).as(Seq("frame_idx", "frame")))
      .filter(col("frame_idx") % everyN === 0)
      .select(col("doc_id"), col("frame_idx").cast("long").as("frame_idx"),
        length(col("frame")).cast("long").as("frame_chars"),
        md5(col("frame")).as("digest"))
      .orderBy(col("doc_id"), col("frame_idx"))
  }

  /** The distributed decode pipeline: binary batches → per-partition
    * kernel → typed rows. [[parseHeader]] is a REAL byte-level
    * header parser (PNG/GIF/BMP fixed offsets plus the JPEG marker
    * walk the Column-algebra path can't express); only pixel decode
    * remains out of scope without a codec. Partitioning, iterator
    * streaming, encoders, and schema are production-shaped.
    */
  def decodePipeline(documents: DataFrame): Dataset[MediaMeta] = {
    val spark = documents.sparkSession
    import spark.implicits._
    synthesize(documents).as[MediaRow]
      .mapPartitions { rows => rows.map(m => parseHeader(m.doc_id, m.payload)) }
  }

  private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xff
  private def be32(b: Array[Byte], i: Int): Long =
    ((u8(b, i).toLong << 24) | (u8(b, i + 1) << 16) | (u8(b, i + 2) << 8) | u8(b, i + 3))
  private def le16(b: Array[Byte], i: Int): Long = u8(b, i) | (u8(b, i + 1) << 8)
  private def le32(b: Array[Byte], i: Int): Long =
    (u8(b, i).toLong | (u8(b, i + 1).toLong << 8) | (u8(b, i + 2).toLong << 16) | (u8(b, i + 3).toLong << 24))

  /** Byte-level header parse: PNG, GIF, BMP at fixed offsets, JPEG
    * via the segment-marker walk (FF xx + big-endian length) to the
    * first SOF0-SOF15 frame header, which carries height u16be @+5,
    * width @+7, components @+9 — exactly how `identify`-style tools
    * read dimensions without decoding.
    */
  def parseHeader(docId: Long, b: Array[Byte]): MediaMeta = {
    def meta(fmt: String, w: Long, h: Long, c: Long) =
      MediaMeta(docId, b.length.toLong, fmt, w, h, c)
    if (b.length >= 26 && be32(b, 0) == 0x89504e47L && be32(b, 4) == 0x0d0a1a0aL) {
      val channels = u8(b, 25) match {
        case 0 => 1L; case 2 => 3L; case 4 => 2L; case 6 => 4L; case _ => 0L
      }
      meta("png", be32(b, 16), be32(b, 20), channels)
    } else if (b.length >= 10 &&
        (b.startsWith("GIF87a".getBytes) || b.startsWith("GIF89a".getBytes))) {
      meta("gif", le16(b, 6), le16(b, 8), 3L)
    } else if (b.length >= 26 && u8(b, 0) == 'B' && u8(b, 1) == 'M') {
      meta("bmp", le32(b, 18), le32(b, 22), 3L)
    } else if (b.length >= 16 && b.startsWith("RIFF".getBytes) &&
        b.slice(8, 12).sameElements("WEBP".getBytes)) {
      // WebP: real RIFF chunk walk — fourcc(4) size(u32le) payload
      // (odd sizes pad to even) — until a dimensioned chunk: VP8X
      // (canvas−1 u24le ×2 + alpha flag 0x10), VP8L (lossless: 14-bit
      // w−1 / h−1 + alpha bit packed after the 0x2F signature), or
      // VP8 (lossy: start code 9D 01 2A then 14-bit dims, u16le).
      def u24le(i: Int): Long = u8(b, i) | (u8(b, i + 1) << 8) | (u8(b, i + 2) << 16)
      var i = 12
      var out: MediaMeta = null
      while (out == null && i + 8 <= b.length) {
        val fourcc = new String(b.slice(i, i + 4), "ISO-8859-1")
        val size = le32(b, i + 4)
        val p = i + 8 // payload start
        fourcc match {
          case "VP8X" if p + 10 <= b.length =>
            val channels = if ((u8(b, p) & 0x10) != 0) 4L else 3L
            out = meta("webp", u24le(p + 4) + 1, u24le(p + 7) + 1, channels)
          case "VP8L" if p + 5 <= b.length && u8(b, p) == 0x2f =>
            val w = (u8(b, p + 1) | ((u8(b, p + 2) & 0x3f) << 8)) + 1L
            val h = ((u8(b, p + 2) >> 6) | (u8(b, p + 3) << 2) |
              ((u8(b, p + 4) & 0x0f) << 10)) + 1L
            out = meta("webp", w, h, if (((u8(b, p + 4) >> 4) & 1) != 0) 4L else 3L)
          case "VP8 " if p + 10 <= b.length && u8(b, p + 3) == 0x9d &&
              u8(b, p + 4) == 0x01 && u8(b, p + 5) == 0x2a =>
            out = meta("webp", le16(b, p + 6) & 0x3fff, le16(b, p + 8) & 0x3fff, 3L)
          case _ =>
            // untrusted u32le chunk size: values >= 2^31 cast toInt go
            // negative and would walk the cursor backwards into an
            // ArrayIndexOutOfBounds. Advance in Long space and stop
            // the walk (zero-dims fallback) when the skip leaves the
            // buffer.
            val next = p.toLong + size + (size & 1L)
            i = if (next < 0 || next > b.length.toLong) b.length else next.toInt
        }
      }
      if (out != null) out else meta("webp", 0L, 0L, 0L)
    } else if (b.length >= 8 &&
        ((u8(b, 0) == 'I' && u8(b, 1) == 'I' && u8(b, 2) == 42 && u8(b, 3) == 0) ||
         (u8(b, 0) == 'M' && u8(b, 1) == 'M' && u8(b, 2) == 0 && u8(b, 3) == 42))) {
      // TIFF: real IFD walk honoring the file's byte order — entry
      // count u16 at the IFD offset, then 12-byte entries
      // (tag, type, count, value); SHORT values sit in the value
      // field's first two bytes in file order, LONGs use all four.
      val le = u8(b, 0) == 'I'
      def u16(i: Int): Long = if (le) le16(b, i) else ((u8(b, i) << 8) | u8(b, i + 1)).toLong
      def u32(i: Int): Long = if (le) le32(b, i) else be32(b, i)
      val ifd = u32(4).toInt
      if (ifd + 2 <= b.length) {
        val n = u16(ifd).toInt
        var width = 0L; var height = 0L
        var samples = 1L // TIFF default SamplesPerPixel
        var e = 0
        while (e < n && ifd + 2 + 12 * (e + 1) <= b.length) {
          val off = ifd + 2 + 12 * e
          val tag = u16(off); val typ = u16(off + 2)
          val value = if (typ == 3L) u16(off + 8) else u32(off + 8)
          tag match {
            case 256L => width = value
            case 257L => height = value
            case 277L => samples = value
            case _ => ()
          }
          e += 1
        }
        meta("tiff", width, height, samples)
      } else meta("tiff", 0L, 0L, 0L)
    } else if (b.length >= 4 && u8(b, 0) == 0xff && u8(b, 1) == 0xd8 && u8(b, 2) == 0xff) {
      // JPEG: walk FF-marker segments to the first SOFn (C0-CF minus
      // the non-frame C4/C8/CC); each non-entropy segment is
      // FF marker len_hi len_lo payload(len-2). Real-world encoders
      // may pad BETWEEN segments with extra FF fill bytes (the spec
      // allows any number before a marker), and TEM (0x01) / RSTn /
      // SOI / EOI are standalone markers with no length field — both
      // must be skipped without reading a bogus length. The SOF
      // payload is precision(1) height(u16be) width(u16be)
      // components(1).
      def be16(i: Int): Long = ((u8(b, i) << 8) | u8(b, i + 1)).toLong
      var i = 2
      var out: MediaMeta = null
      var halted = false
      while (out == null && !halted && i < b.length && u8(b, i) == 0xff) {
        var m = i + 1
        while (m < b.length && u8(b, m) == 0xff) m += 1 // FF fill bytes
        if (m >= b.length) halted = true
        else {
          val marker = u8(b, m)
          if (marker >= 0xc0 && marker <= 0xcf && marker != 0xc4 && marker != 0xc8 && marker != 0xcc) {
            out =
              if (m + 8 < b.length)
                meta("jpeg", be16(m + 6), be16(m + 4), u8(b, m + 8).toLong)
              else meta("jpeg", 0L, 0L, 0L)
          } else if (marker == 0x01 || marker == 0x00 ||
              (marker >= 0xd0 && marker <= 0xd9)) {
            i = m + 1 // standalone: TEM / stuffed 00 / RSTn / SOI / EOI
          } else if (m + 2 < b.length) {
            i = m + 1 + ((u8(b, m + 1) << 8) | u8(b, m + 2))
          } else halted = true
        }
      }
      if (out != null) out else meta("jpeg", 0L, 0L, 0L)
    } else meta("unknown", 0L, 0L, 0L)
  }

  /** Byte-level audio/video header parse — the GENERAL walks the
    * fixed-offset Column path can't express, exactly like
    * [[parseHeader]] for images:
    *
    *  - WAV: real RIFF chunk walk (fourcc + u32le size, odd sizes
    *    pad to even) to the `fmt ` chunk, wherever it sits — a
    *    `LIST`/`JUNK` chunk before it is routine in the wild.
    *  - MP4: ISO-BMFF box walk at every level (u32be size, size 1 →
    *    u64 largesize @8, size 0 → to end-of-buffer) descending
    *    `moov` > `trak` > `tkhd`, handling both tkhd v0 (dims @84)
    *    and v1 (64-bit times, dims @96), skipping `ftyp`/`free`/
    *    other siblings.
    *  - FLAC: metadata block walk (1-byte last-flag|type + u24be
    *    length) to the STREAMINFO block (type 0), skipping padding/
    *    application blocks.
    *  - Ogg: first-page segment-table skip to the codec
    *    identification header — OpusHead (channels, original input
    *    rate) or ␁vorbis (channels, rate); lossy codecs report
    *    bit_depth 0 (no fixed sample width).
    *
    * Untrusted sizes advance the cursor in Long space and stop the
    * walk (zero fallback) when a skip leaves the buffer — same guard
    * policy as the WebP chunk walk.
    */
  def parseAvHeader(docId: Long, b: Array[Byte]): AvMeta = {
    def av(fmt: String, sr: Long = 0L, ch: Long = 0L, bps: Long = 0L,
           w: Long = 0L, h: Long = 0L) =
      AvMeta(docId, b.length.toLong, fmt, sr, ch, bps, w, h)
    def be16(i: Int): Long = ((u8(b, i) << 8) | u8(b, i + 1)).toLong
    def u24be(i: Int): Long = ((u8(b, i) << 16) | (u8(b, i + 1) << 8) | u8(b, i + 2)).toLong
    def be64(i: Int): Long = (be32(b, i) << 32) | be32(b, i + 4)

    if (b.length >= 12 && b.startsWith("RIFF".getBytes) &&
        b.slice(8, 12).sameElements("WAVE".getBytes)) {
      var i = 12
      var out: AvMeta = null
      while (out == null && i + 8 <= b.length) {
        val fourcc = new String(b.slice(i, i + 4), "ISO-8859-1")
        val size = le32(b, i + 4)
        val p = i + 8
        if (fourcc == "fmt " && p + 16 <= b.length)
          out = av("wav", sr = le32(b, p + 4), ch = le16(b, p + 2), bps = le16(b, p + 14))
        else {
          val next = p.toLong + size + (size & 1L)
          i = if (next < 0 || next > b.length.toLong) b.length else next.toInt
        }
      }
      if (out != null) out else av("wav")
    } else if (b.length >= 4 && b.startsWith("fLaC".getBytes)) {
      var i = 4
      var out: AvMeta = null
      var last = false
      while (out == null && !last && i + 4 <= b.length) {
        val hdr = u8(b, i)
        last = (hdr & 0x80) != 0
        val typ = hdr & 0x7f
        val len = u24be(i + 1)
        val p = i + 4
        if (typ == 0 && p + 21 <= b.length) {
          // STREAMINFO packed field at p+10: sr(20) ch-1(3) bps-1(5)
          val sr = (u8(b, p + 10).toLong << 12) | (u8(b, p + 11) << 4) | (u8(b, p + 12) >> 4)
          val ch = ((u8(b, p + 12) >> 1) & 7) + 1L
          val bps = (((u8(b, p + 12) & 1) << 4) | (u8(b, p + 13) >> 4)) + 1L
          out = av("flac", sr = sr, ch = ch, bps = bps)
        } else {
          val next = p.toLong + len
          i = if (next < 0 || next > b.length.toLong) b.length else next.toInt
        }
      }
      if (out != null) out else av("flac")
    } else if (b.length >= 28 && b.startsWith("OggS".getBytes) && u8(b, 4) == 0) {
      // Ogg: page header is "OggS" ver(0) type granule(8) serial(4)
      // seq(4) crc(4) nSegs(1) segtable(nSegs); the FIRST page's
      // payload identifies the codec — "OpusHead" (channels u8 @9,
      // original input rate u32le @12; Opus itself always decodes at
      // 48 kHz but the header preserves the source rate) or
      // "\x01vorbis" (channels u8 @11, rate u32le @12, followed by
      // bitrates and the blocksize nibbles).
      val nSegs = u8(b, 26)
      val p = 27 + nSegs
      // bit_depth stays 0: lossy codecs have no fixed sample width
      // (the 0-for-inapplicable convention of [[AvMeta]]).
      if (p + 19 <= b.length && b.slice(p, p + 8).sameElements("OpusHead".getBytes))
        av("ogg", sr = le32(b, p + 12), ch = u8(b, p + 9).toLong)
      else if (p + 16 <= b.length && u8(b, p) == 1 &&
          b.slice(p + 1, p + 7).sameElements("vorbis".getBytes))
        av("ogg", sr = le32(b, p + 12), ch = u8(b, p + 11).toLong)
      else av("ogg")
    } else if (b.length >= 12 && b.slice(4, 8).sameElements("ftyp".getBytes)) {
      // Generic box walk over [from, until): returns payload bounds of
      // the first box with the wanted fourcc, or null.
      def findBox(want: String, from: Int, until: Int): (Int, Int) = {
        var i = from
        while (i + 8 <= until) {
          val size32 = be32(b, i)
          val fourcc = new String(b.slice(i + 4, i + 8), "ISO-8859-1")
          val (payloadStart, boxEnd) =
            if (size32 == 1L && i + 16 <= until) (i + 16, i.toLong + be64(i + 8))
            else if (size32 == 0L) (i + 8, until.toLong)
            else (i + 8, i.toLong + size32)
          if (boxEnd < payloadStart || boxEnd > until) return null
          if (fourcc == want) return (payloadStart, boxEnd.toInt)
          i = boxEnd.toInt
        }
        null
      }
      val moov = findBox("moov", 0, b.length)
      val trak = if (moov == null) null else findBox("trak", moov._1, moov._2)
      val tkhd = if (trak == null) null else findBox("tkhd", trak._1, trak._2)
      if (tkhd != null) {
        val p = tkhd._1
        val v1 = u8(b, p) == 1
        val dimOff = p + (if (v1) 88 else 76) // v1: 64-bit times push dims out 12 bytes
        if (dimOff + 8 <= tkhd._2)
          av("mp4", w = be32(b, dimOff) >> 16, h = be32(b, dimOff + 4) >> 16)
        else av("mp4")
      } else av("mp4")
    } else av("unknown")
  }

  /** Distributed decode pipeline for the audio/video containers —
    * the [[decodePipeline]] counterpart over [[synthesizeAv]] bytes,
    * running [[parseAvHeader]]'s general walks per partition.
    */
  def decodeAvPipeline(documents: DataFrame): Dataset[AvMeta] = {
    val spark = documents.sparkSession
    import spark.implicits._
    synthesizeAv(documents).as[MediaRow]
      .mapPartitions { rows => rows.map(m => parseAvHeader(m.doc_id, m.payload)) }
  }
}
