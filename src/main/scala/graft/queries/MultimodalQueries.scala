package graft
package queries

import graft.operators._
import graft.sources.Tables
import OracleBlocks.halfUpDiv

/** Binary payloads: container metadata, frame sampling, resize plans
  * and byte-histogram near-dups (Multimodal). */
private[graft] object MultimodalQueries extends Family {

  val queries: Seq[Query] = Seq(
    Query("mm_binary_meta", (s, d) => Multimodal.binaryMeta(Tables(s, d).documents), mmBinaryMetaOracle),
    Query("mm_frame_sample", (s, d) => Multimodal.frameSample(Tables(s, d).documents),
      """SELECT doc_id, CAST(i AS BIGINT) AS frame_idx,
        |  CAST(length(f) AS BIGINT) AS frame_chars, md5(f) AS digest
        |FROM (SELECT doc_id, i, substr(text, CAST(i * 16 + 1 AS INT), 16) AS f FROM (
        |  SELECT doc_id, text, unnest(range(0, (length(text) - 1) // 16 + 1)) AS i
        |  FROM documents))
        |WHERE i % 4 = 0 ORDER BY doc_id, frame_idx""".stripMargin),
    Query("mm_resize_plan", (s, d) => Multimodal.resizePlan(Tables(s, d).documents), mmResizePlanOracle),
    // 16-bin high-nibble histogram over the same reconstructed bytes
    Query("mm_byte_histogram", (s, d) => Multimodal.byteHistogram(Tables(s, d).documents),
      s"""WITH $mmPayloadCtes
        |SELECT doc_id, b AS bin,
        |  CAST(len([i FOR i IN range(1, octet_length(payload) + 1)
        |            IF substring(hx, CAST(2 * i - 1 AS INT), 1) = substring('0123456789ABCDEF', CAST(b + 1 AS INT), 1)]) AS BIGINT) AS n
        |FROM x CROSS JOIN (SELECT unnest(range(16)) AS b)
        |ORDER BY doc_id, bin""".stripMargin),
    Query("mm_neardup", (s, d) => Multimodal.payloadNearDup(Tables(s, d).documents),
      s"""WITH $mmPayloadCtes,
        |$mmHistCtes,
        |p AS (SELECT ha.doc_id AS ia, hb.doc_id AS ib, ha.len AS la, hb.len AS lb,
        |    CAST(list_sum([abs(ha.hist[i+1] * hb.len - hb.hist[i+1] * ha.len) FOR i IN range(16)]) AS BIGINT) AS num
        |  FROM hh ha JOIN hh hb ON ha.doc_id < hb.doc_id)
        |SELECT ia AS a, ib AS b, (num * 1000000) // (la * lb) AS dist_ppm
        |FROM p WHERE num * 200 <= la * lb
        |ORDER BY a, b""".stripMargin),
    // Banded companion: same payload/histogram grammar, candidates
    // from the packed 4-band × 2-lattice integer signatures, SAME
    // exact verify — the result is a subset of mm_neardup's rows.
    Query("mm_neardup_banded", (s, d) => Multimodal.payloadNearDupBanded(Tables(s, d).documents),
      s"""WITH $mmPayloadCtes,
        |$mmHistCtes,
        |sig AS (SELECT doc_id, band, probe,
        |    CAST(list_sum([
        |      (CASE WHEN probe = 0 THEN (hist[CAST(4 * band + k + 1 AS INT)] * 128) // len
        |            ELSE ${halfUpDiv("hist[CAST(4 * band + k + 1 AS INT)]", "len", 128)} END)
        |      * (CASE k WHEN 0 THEN 16777216 WHEN 1 THEN 65536 WHEN 2 THEN 256 ELSE 1 END)
        |      FOR k IN range(4)]) AS BIGINT) AS sig
        |  FROM hh CROSS JOIN (SELECT unnest(range(4)) AS band)
        |          CROSS JOIN (SELECT unnest(range(2)) AS probe)),
        |sigc AS (SELECT doc_id, band, probe, sig FROM sig
        |  QUALIFY count(*) OVER (PARTITION BY band, probe, sig) <= 1024),
        |cand AS (SELECT DISTINCT sa.doc_id AS ia, sb.doc_id AS ib
        |  FROM sigc sa JOIN sigc sb ON sa.band = sb.band AND sa.probe = sb.probe
        |    AND sa.sig = sb.sig AND sa.doc_id < sb.doc_id),
        |p AS (SELECT c.ia, c.ib, ha.len AS la, hb.len AS lb,
        |    CAST(list_sum([abs(ha.hist[i+1] * hb.len - hb.hist[i+1] * ha.len) FOR i IN range(16)]) AS BIGINT) AS num
        |  FROM cand c JOIN hh ha ON ha.doc_id = c.ia JOIN hh hb ON hb.doc_id = c.ib)
        |SELECT ia AS a, ib AS b, (num * 1000000) // (la * lb) AS dist_ppm
        |FROM p WHERE num * 200 <= la * lb
        |ORDER BY a, b""".stripMargin),
    Query("mm_av_meta", (s, d) => Multimodal.avMeta(Tables(s, d).documents), mmAvMetaOracle),
  )

  /** mm_binary_meta oracle — the shared [[mmPayloadCtes]] container
    * grammar (single source of the synthetic payload bytes + header
    * parses), projected to the metadata row.
    */
  private def mmBinaryMetaOracle: String =
    s"""WITH $mmPayloadCtes
       |SELECT doc_id, n_bytes, digest, format, width, height, channels,
       |  width * height AS n_pixels
       |FROM y ORDER BY doc_id""".stripMargin

  /** Shared payload-reconstruction CTE chain (`m`/`x`/`y`) for the
    * mm_* oracles: identical synthetic container bytes as
    * [[operators.Multimodal.synthesize]], dimensions parsed back with
    * the same byte arithmetic. Ends with
    * `y(doc_id, n_bytes, digest, format, width, height, channels)`.
    */
  private def mmPayloadCtes: String = {
    def leHex(e: String, n: Int) = (0 until n)
      .map(k => s"lpad(hex(($e >> ${8 * k}) % 256), 2, '0')").mkString(" || ")
    val w = "(doc_id % 1000 + 1)"
    val h = "(doc_id % 777 + 1)"
    val png = s"'89504E470D0A1A0A' || '0000000D49484452' || " +
      s"lpad(hex($w), 8, '0') || lpad(hex($h), 8, '0') || '0802000000'"
    val gif = s"'474946383961' || ${leHex(w, 2)} || ${leHex(h, 2)}"
    val bmp = s"'424D' || '${"0" * 24}' || '28000000' || ${leHex(w, 4)} || ${leHex(h, 4)}"
    val webp = s"'524946460000000057454250565038580A000000' || " +
      s"(CASE WHEN doc_id % 2 = 0 THEN '10' ELSE '00' END) || '000000' || " +
      s"${leHex(s"($w - 1)", 3)} || ${leHex(s"($h - 1)", 3)}"
    val tiff = s"'49492A0008000000' || '0300' || " +
      s"'0001030001000000' || ${leHex(w, 4)} || " +
      s"'0101030001000000' || ${leHex(h, 4)} || " +
      s"'1501030001000000' || '03000000' || '00000000'"
    def be(s: Int, n: Int) = s"('0x' || substring(hx, ${(s - 1) * 2 + 1}, ${n * 2}))::BIGINT"
    def le(s: Int, n: Int) = "('0x' || " + ((n - 1) to 0 by -1)
      .map(k => s"substring(hx, ${(s - 1 + k) * 2 + 1}, 2)").mkString(" || ") + ")::BIGINT"
    val isPng = "substring(hx, 1, 16) = '89504E470D0A1A0A'"
    val isGif = "substring(hx, 1, 12) IN ('474946383761', '474946383961')"
    val isBmp = "substring(hx, 1, 4) = '424D'"
    val isWebp = "(substring(hx, 1, 8) = '52494646' AND substring(hx, 17, 8) = '57454250'" +
      " AND substring(hx, 25, 8) = '56503858')"
    val isTiff = "substring(hx, 1, 8) IN ('49492A00', '4D4D002A')"
    s"""m AS (SELECT doc_id, unhex(
       |    CASE WHEN doc_id % 5 = 0 THEN $png
       |         WHEN doc_id % 5 = 1 THEN $gif
       |         WHEN doc_id % 5 = 2 THEN $bmp
       |         WHEN doc_id % 5 = 3 THEN $webp
       |         ELSE $tiff END || hex(encode(text))) AS payload
       |  FROM documents),
       |x AS (SELECT doc_id, payload, hex(payload) AS hx FROM m),
       |y AS (SELECT doc_id, CAST(octet_length(payload) AS BIGINT) AS n_bytes, md5(hx) AS digest,
       |    CASE WHEN $isPng THEN 'png' WHEN $isGif THEN 'gif'
       |         WHEN $isBmp THEN 'bmp' WHEN $isWebp THEN 'webp'
       |         WHEN $isTiff THEN 'tiff' ELSE 'unknown' END AS format,
       |    CASE WHEN $isPng THEN ${be(17, 4)} WHEN $isGif THEN ${le(7, 2)}
       |         WHEN $isBmp THEN ${le(19, 4)} WHEN $isWebp THEN ${le(25, 3)} + 1
       |         WHEN $isTiff THEN ${le(19, 2)} END AS width,
       |    CASE WHEN $isPng THEN ${be(21, 4)} WHEN $isGif THEN ${le(9, 2)}
       |         WHEN $isBmp THEN ${le(23, 4)} WHEN $isWebp THEN ${le(28, 3)} + 1
       |         WHEN $isTiff THEN ${le(31, 2)} END AS height,
       |    CASE WHEN $isPng THEN (CASE ${be(26, 1)} WHEN 0 THEN 1 WHEN 2 THEN 3
       |                            WHEN 4 THEN 2 WHEN 6 THEN 4 END)
       |         WHEN $isGif THEN 3 WHEN $isBmp THEN 3
       |         WHEN $isWebp THEN (CASE WHEN (${be(21, 1)} & 16) != 0 THEN 4 ELSE 3 END)
       |         WHEN $isTiff THEN ${le(43, 2)} END::BIGINT AS channels
       |  FROM x)""".stripMargin
  }

  /** Shared nibble-histogram CTE pair (`h`/`hh`) for the near-dup
    * oracles, over the [[mmPayloadCtes]] payload bytes. Ends with
    * `hh(doc_id, len, hist)` — hist is the 16-long bin list.
    */
  private def mmHistCtes: String =
    s"""h AS (SELECT doc_id, CAST(octet_length(payload) AS BIGINT) AS len, b,
       |    CAST(len([i FOR i IN range(1, octet_length(payload) + 1)
       |              IF substring(hx, CAST(2 * i - 1 AS INT), 1) = substring('0123456789ABCDEF', CAST(b + 1 AS INT), 1)]) AS BIGINT) AS n
       |  FROM x CROSS JOIN (SELECT unnest(range(16)) AS b)),
       |hh AS (SELECT doc_id, len, list(n ORDER BY b) AS hist
       |  FROM h GROUP BY doc_id, len)""".stripMargin

  /** mm_av_meta oracle — the audio/video counterpart of
    * [[mmPayloadCtes]]: identical synthetic WAV / MP4 / FLAC / Ogg
    * container bytes as [[operators.Multimodal.synthesizeAv]],
    * parameters parsed back with the same byte arithmetic (WAV fmt
    * fields little-endian at fixed offsets, FLAC STREAMINFO packed
    * bit field, MP4 tkhd 16.16 fixed-point dims, Ogg codec-id packet
    * at byte 29 — OpusHead ch @38 / rate @41, ␁vorbis ch @40 /
    * rate @41).
    */
  private def mmAvMetaOracle: String = {
    def leHex(e: String, n: Int) = (0 until n)
      .map(k => s"lpad(hex(($e >> ${8 * k}) % 256), 2, '0')").mkString(" || ")
    def beHex(e: String, n: Int) = ((n - 1) to 0 by -1)
      .map(k => s"lpad(hex(($e >> ${8 * k}) % 256), 2, '0')").mkString(" || ")
    val wav = s"'52494646' || ${leHex("(dlen + 36)", 4)} || '57415645' || " +
      s"'666D7420' || '10000000' || '0100' || ${leHex("ch", 2)} || ${leHex("sr", 4)} || " +
      s"${leHex("(sr * ch * bps // 8)", 4)} || ${leHex("(ch * bps // 8)", 2)} || " +
      s"${leHex("bps", 2)} || '64617461' || ${leHex("dlen", 4)}"
    val mp4 = "'000000106674797069736F6D00000000' || '0000006C6D6F6F76' || " +
      "'000000647472616B' || '0000005C746B6864' || '00000007' || " +
      "'000000000000000000000001000000000000000000000000000000000000000001000000' || " +
      "'000100000000000000000000000000000001000000000000000000000000000040000000' || " +
      s"${beHex("w", 2)} || '0000' || ${beHex("h", 2)} || '0000'"
    val flac = "'664C6143' || '80' || '000022' || '10001000' || '000000' || '000000' || " +
      "lpad(hex(sr >> 12), 2, '0') || lpad(hex((sr >> 4) % 256), 2, '0') || " +
      "lpad(hex((sr % 16) * 16 + (ch - 1) * 2 + ((bps - 1) >> 4)), 2, '0') || " +
      "lpad(hex(((bps - 1) % 16) * 16 + ((dlen >> 32) % 16)), 2, '0') || " +
      s"${beHex("(dlen % 4294967296)", 4)} || '${"0" * 32}'"
    val opusPacket = s"'4F70757348656164' || '01' || ${leHex("ch", 1)} || '0000' || " +
      s"${leHex("sr", 4)} || '0000' || '00'"
    val vorbisPacket = s"'01' || '766F72626973' || '00000000' || ${leHex("ch", 1)} || " +
      s"${leHex("sr", 4)} || '${"0" * 24}' || 'B8' || '01'"
    val ogg = s"'4F676753' || '00' || '02' || '${"0" * 16}' || " +
      s"${leHex("(doc_id % 4294967296)", 4)} || '00000000' || '00000000' || '01' || " +
      s"(CASE WHEN doc_id % 8 = 3 THEN '13' || $opusPacket ELSE '1E' || $vorbisPacket END)"
    def be(s: Int, n: Int) = s"('0x' || substring(hx, ${(s - 1) * 2 + 1}, ${n * 2}))::BIGINT"
    def le(s: Int, n: Int) = "('0x' || " + ((n - 1) to 0 by -1)
      .map(k => s"substring(hx, ${(s - 1 + k) * 2 + 1}, 2)").mkString(" || ") + ")::BIGINT"
    s"""WITH p AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS dlen,
       |    doc_id % 2 + 1 AS ch, (doc_id % 5 + 1) * 8000 AS sr, (doc_id % 3 + 1) * 8 AS bps,
       |    doc_id % 1920 + 1 AS w, doc_id % 1080 + 1 AS h, text
       |  FROM documents),
       |m AS (SELECT doc_id, unhex(
       |    CASE WHEN doc_id % 4 = 0 THEN $wav
       |         WHEN doc_id % 4 = 1 THEN $mp4
       |         WHEN doc_id % 4 = 2 THEN $flac
       |         ELSE $ogg END || hex(encode(text))) AS payload
       |  FROM p),
       |x AS (SELECT doc_id, payload, hex(payload) AS hx FROM m),
       |y AS (SELECT doc_id, CAST(octet_length(payload) AS BIGINT) AS n_bytes,
       |    CASE WHEN substring(hx, 1, 8) = '52494646' AND substring(hx, 17, 8) = '57415645' THEN 'wav'
       |         WHEN substring(hx, 9, 8) = '66747970' THEN 'mp4'
       |         WHEN substring(hx, 1, 8) = '664C6143' THEN 'flac'
       |         WHEN substring(hx, 1, 8) = '4F676753' THEN 'ogg'
       |         ELSE 'unknown' END AS format,
       |    substring(hx, 57, 16) = '4F70757348656164' AS is_opus,
       |    substring(hx, 57, 2) = '01' AND substring(hx, 59, 12) = '766F72626973' AS is_vorbis,
       |    hx
       |  FROM x)
       |SELECT doc_id, n_bytes, format,
       |  CASE WHEN format = 'wav' THEN ${le(25, 4)}
       |       WHEN format = 'flac' THEN ${be(19, 1)} * 4096 + ${be(20, 1)} * 16 + ${be(21, 1)} // 16
       |       WHEN format = 'ogg' AND (is_opus OR is_vorbis) THEN ${le(41, 4)}
       |       ELSE 0 END AS sample_rate,
       |  CASE WHEN format = 'wav' THEN ${le(23, 2)}
       |       WHEN format = 'flac' THEN (${be(21, 1)} // 2) % 8 + 1
       |       WHEN format = 'ogg' AND is_opus THEN ${be(38, 1)}
       |       WHEN format = 'ogg' AND is_vorbis THEN ${be(40, 1)}
       |       ELSE 0 END AS channels,
       |  CASE WHEN format = 'wav' THEN ${le(35, 2)}
       |       WHEN format = 'flac' THEN (${be(21, 1)} % 2) * 16 + ${be(22, 1)} // 16 + 1
       |       ELSE 0 END AS bit_depth,
       |  CASE WHEN format = 'mp4' THEN ${be(117, 4)} // 65536 ELSE 0 END AS width,
       |  CASE WHEN format = 'mp4' THEN ${be(121, 4)} // 65536 ELSE 0 END AS height
       |FROM y ORDER BY doc_id""".stripMargin
  }

  /** mm_resize_plan oracle — same letterbox arithmetic over the
    * reconstructed dims: exact half-up integer scaling clamped to
    * ≥ 1, centered pads, upscale flag.
    */
  private def mmResizePlanOracle: String =
    s"""WITH $mmPayloadCtes,
       |r AS (SELECT doc_id, format, width, height,
       |    CASE WHEN width >= height THEN 224
       |         ELSE greatest(1, ${halfUpDiv("width", "height", 224)}) END AS out_w,
       |    CASE WHEN width >= height THEN greatest(1, ${halfUpDiv("height", "width", 224)})
       |         ELSE 224 END AS out_h
       |  FROM y)
       |SELECT doc_id, format, width, height, out_w, out_h,
       |  (224 - out_w) // 2 AS pad_left, (224 - out_h) // 2 AS pad_top,
       |  (width < 224 AND height < 224) AS upscale
       |FROM r ORDER BY doc_id""".stripMargin
}
