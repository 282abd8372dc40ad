package graft
package queries

import graft.operators._
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Media codecs: image, audio and video decode, features, fingerprints
  * and their near-duplicates. */
object MediaQueries {

  val defs: Seq[QueryDef] = Seq(
    // Multimodal metadata via GENUINE decode: one real PNG per doc_id
    // (Multimodal.syntheticPng, closed-form pixels), dimensions read by
    // actually decoding the payload header with javax.imageio — the
    // mislabeled/corrupt-media check of a real ingest pipeline. The
    // oracle predicts width/height from the id-only dims function.
    QueryDef("q37_media_meta", (s, dir) =>
      multimodal.Multimodal.imageMeta(
        multimodal.Multimodal.fromSyntheticImages(Tables.documents(s, dir)))
        .orderBy("media_id"),
      // Dims are the id-only closed form shared with Multimodal.syntheticDims;
      // the Spark side reads them by genuinely decoding the PNG header.
      """SELECT doc_id AS media_id,
        | CAST(8 + doc_id % 9 AS INT) AS width,
        | CAST(8 + doc_id % 7 AS INT) AS height,
        | CAST((8 + doc_id % 9) * (8 + doc_id % 7) AS BIGINT) AS n_pixels
        |FROM documents ORDER BY media_id""".stripMargin,
      tags = Set(QueryDef.WarmAtTargetSf)),

    // Multimodal decode→feature-extract via per-partition mapPartitions
    // with the REAL ImageIO codec: PNG payloads are decoded to pixels and
    // histogrammed (bin = red >> 4). The pixel function is closed-form in
    // media_id, so the oracle recomputes every bin count in SQL — a real
    // encode→decode round trip, hash-checked. Counts are recovered from
    // the normalized float features via round(f · n_pixels).
    QueryDef("q38_media_features", (s, dir) => {
      val feats = multimodal.Multimodal.extractFeatures(
        multimodal.Multimodal.fromSyntheticImages(Tables.documents(s, dir)),
        () => new multimodal.Multimodal.ImageIOCodec)
      val npix = ((col("media_id") % 9) + 8) * ((col("media_id") % 7) + 8)
      val counts = (0 until 16).map(i =>
        round(element_at(col("features"), i + 1) * npix)
          .cast("bigint").as(f"c$i%02d"))
      feats.select(col("media_id") +: npix.cast("bigint").as("n_pixels") +: counts: _*)
        .orderBy("media_id")
    }, {
      // ImageIOCodec features = red-channel histogram (bin = r >> 4) over a
      // PNG whose gray pixel(x,y) = ((id%1000003)·31 + x·7 + y·13) % 256 —
      // PNG is lossless, so the SQL recomputation of the pixel function
      // must equal what the real decoder recovered, bin for bin.
      val cs = (0 until 16).map(k =>
        s" CAST(len(list_filter(bins, x -> x = $k)) AS BIGINT) AS c${"%02d".format(k)}")
        .mkString(",\n")
      s"""WITH n AS (
         |  SELECT doc_id AS media_id,
         |    CAST((8 + doc_id % 9) * (8 + doc_id % 7) AS BIGINT) AS n_pixels,
         |    list_transform(range((8 + doc_id % 9) * (8 + doc_id % 7)),
         |      i -> (((doc_id % 1000003) * 31 + (i % (8 + doc_id % 9)) * 7
         |             + (i // (8 + doc_id % 9)) * 13) % 256) // 16) AS bins
         |  FROM documents)
         |SELECT media_id, n_pixels,
         |$cs
         |FROM n ORDER BY media_id""".stripMargin
    },
      tags = Set(QueryDef.WarmAtTargetSf)),

    // Video-style frame sampling: per-media frame counts are deterministic
    // functions of payload size → oracle-checkable. Left join back to the
    // media set so zero-frame (empty-payload) media still emit a 0 row.
    QueryDef("q39_frame_counts", (s, dir) => {
      val media = multimodal.Multimodal.fromDocuments(Tables.documents(s, dir))
      val counts = multimodal.Multimodal.sampleFrames(
          media, everyMs = 64, () => new multimodal.Multimodal.StubCodec)
        .groupBy("media_id").agg(count(lit(1)).as("__n"))
      media.select("media_id").join(counts, Seq("media_id"), "left")
        .select(col("media_id"),
          coalesce(col("__n"), lit(0L)).as("n_frames"))
        .orderBy("media_id")
    },
      """SELECT doc_id AS media_id,
        | least(CAST(ceil(length(text) / 64.0) AS BIGINT), 8) AS n_frames
        |FROM documents ORDER BY media_id""".stripMargin,
      tags = Set(QueryDef.WarmAtTargetSf)),

    // REAL video frame sampling: animated-GIF payloads (closed-form
    // per-frame pixels, one 100 ms GraphicControlExtension delay per
    // frame) sampled at 150 ms by genuinely reading the GIF frame
    // delays; each sampled frame is decoded and summed. The oracle
    // recomputes sample count, sampled frame index and pixel sum from
    // the id-only synthetic functions — an encode→sample→decode round
    // trip through a true multi-frame container, hash-checked.
    QueryDef("q143_video_frames", (s, dir) =>
      multimodal.Multimodal.frameGraySums(
        multimodal.Multimodal.fromSyntheticVideos(Tables.documents(s, dir)),
        everyMs = 150L)
        .select(col("media_id"),
          col("sample_idx").cast("bigint").as("sample_idx"),
          col("gray_sum"))
        .orderBy("media_id", "sample_idx"),
      // syntheticGif frame f: gray pixel(x,y) = (base + 7x + 13y + 17f)
      // % 256 with base = (id % 1000003)·31; nf = 1 + id % 6 frames of
      // 100 ms each; sampling at 150 ms takes t = 0, 150, … < nf·100 and
      // shows frame t // 100 at each stamp. LEAST(…, 8) is the codec's
      // maxSamples per-row memory cap — encoded here so the oracle states
      // the full contract (the fixture's ceil(nf·100/150) ≤ 4 never hits
      // it, but parity must hold by construction, not coincidence).
      """WITH v AS (
        |  SELECT doc_id AS media_id,
        |    CAST(1 + doc_id % 6 AS BIGINT) AS nf,
        |    CAST(8 + doc_id % 9 AS BIGINT) AS w,
        |    CAST(8 + doc_id % 7 AS BIGINT) AS h,
        |    (doc_id % 1000003) * 31 AS base
        |  FROM documents),
        |s AS (
        |  SELECT media_id, w, h, base, CAST(t.i AS BIGINT) AS sample_idx,
        |    (CAST(t.i AS BIGINT) * 150) // 100 AS f
        |  FROM v, unnest(range(LEAST(
        |    CAST(ceil(nf * 100 / 150.0) AS BIGINT), 8)))
        |    AS t(i))
        |SELECT media_id, sample_idx,
        |  CAST(list_sum(list_transform(range(w * h),
        |    p -> (base + (p % w) * 7 + (p // w) * 13 + f * 17) % 256))
        |    AS BIGINT) AS gray_sum
        |FROM s ORDER BY media_id, sample_idx""".stripMargin,
      tags = Set(QueryDef.WarmAtTargetSf)),

    // REAL audio decode: RIFF/WAVE PCM16 payloads (closed-form samples)
    // pushed through the JDK's javax.sound.sampled reader and reduced to
    // integer-exact features (sum|s|, max|s|) — the oracle recomputes
    // them from the id-only sample function. Completes the
    // image/audio/video triple on genuine JDK codecs.
    QueryDef("q144_audio_features", (s, dir) =>
      multimodal.Multimodal.audioFeatures(
        multimodal.Multimodal.fromSyntheticAudio(Tables.documents(s, dir)))
        .orderBy("media_id"),
      // syntheticWav sample(i) = ((id % 1000003)·31 + i·7919) % 65536
      // − 32768 over n = 500 + id % 1000 PCM16 samples at 8 kHz.
      """WITH v AS (
        |  SELECT doc_id AS media_id,
        |    CAST(500 + doc_id % 1000 AS BIGINT) AS n_samples,
        |    list_transform(range(500 + doc_id % 1000),
        |      i -> ((doc_id % 1000003) * 31 + i * 7919) % 65536
        |           - 32768) AS s
        |  FROM documents)
        |SELECT media_id, n_samples, CAST(8000 AS INT) AS sample_rate,
        |  CAST(list_aggregate(list_transform(s, x -> abs(x)), 'sum')
        |    AS BIGINT) AS sum_abs,
        |  CAST(list_aggregate(list_transform(s, x -> abs(x)), 'max')
        |    AS BIGINT) AS max_abs
        |FROM v ORDER BY media_id""".stripMargin,
      tags = Set(QueryDef.WarmAtTargetSf)),

    // Perceptual image dedup: REAL PNG decode → grid-sampled 64-bit
    // dHash per image in the scan stage (payloads never shuffle), then
    // exact-perceptual-dup clusters (canonical id + size). The hash
    // rides as two 32-bit halves — DuckDB BIGINT shifts overflow at bit
    // 63 — and the oracle recomputes every bit from the closed-form
    // synthetic pixel function (the q38 encode→decode discipline).
    QueryDef("q153_image_dhash", (s, dir) => {
      val hashes = multimodal.Multimodal.imageDHash(
        multimodal.Multimodal.fromSyntheticImages(Tables.documents(s, dir)))
      hashes.select(col("media_id"),
          shiftrightunsigned(col("dhash"), 32).as("hash_hi"),
          col("dhash").bitwiseAND(lit(0xFFFFFFFFL)).as("hash_lo"))
        .groupBy("hash_hi", "hash_lo")
        .agg(min("media_id").as("canon_id"), count(lit(1)).as("n_dup"))
        .select("hash_hi", "hash_lo", "canon_id", "n_dup")
        .orderBy("canon_id")
    },
      """WITH ids AS (
        |  SELECT doc_id AS id, 8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h,
        |         (doc_id % 1000003) * 31 AS base
        |  FROM documents),
        |bits AS (
        |  SELECT id, j * 8 + i AS pos,
        |    CASE WHEN (base + 7 * (((i + 1) * w) // 9) + 13 * ((j * h) // 8)) % 256
        |            > (base + 7 * ((i * w) // 9) + 13 * ((j * h) // 8)) % 256
        |      THEN 1 ELSE 0 END AS b
        |  FROM ids, range(8) t1(i), range(8) t2(j)),
        |hashes AS (
        |  SELECT id,
        |    bit_or(CASE WHEN b = 1 AND pos >= 32
        |      THEN (1::BIGINT << (pos - 32)) ELSE 0::BIGINT END) AS hash_hi,
        |    bit_or(CASE WHEN b = 1 AND pos < 32
        |      THEN (1::BIGINT << pos) ELSE 0::BIGINT END) AS hash_lo
        |  FROM bits GROUP BY id)
        |SELECT hash_hi, hash_lo, min(id) AS canon_id, count(*) AS n_dup
        |FROM hashes GROUP BY 1, 2 ORDER BY canon_id""".stripMargin,
      tags = Set(QueryDef.WarmAtTargetSf)),

    // Audio fingerprinting: REAL WAV decode → 63-bit frame-energy-delta
    // fingerprint per clip, scan-stage only (payloads never shuffle).
    // Pure integer arithmetic — no FFT — so the oracle recomputes every
    // frame energy and delta bit from the closed-form sample function.
    QueryDef("q154_audio_fp", (s, dir) =>
      multimodal.Multimodal.audioFingerprint(
        multimodal.Multimodal.fromSyntheticAudio(Tables.documents(s, dir)))
        .orderBy("media_id"),
      """WITH v AS (
        |  SELECT doc_id AS media_id,
        |    CAST(500 + doc_id % 1000 AS BIGINT) AS n,
        |    (doc_id % 1000003) * 31 AS base
        |  FROM documents),
        |f AS (
        |  SELECT media_id,
        |    list_transform(range(64), j ->
        |      list_aggregate(list_transform(
        |        range(j * n // 64, (j + 1) * n // 64),
        |        i -> abs((base + i * 7919) % 65536 - 32768)), 'sum')) AS e
        |  FROM v)
        |SELECT media_id,
        |  CAST(list_aggregate(list_transform(range(63), k ->
        |    CASE WHEN e[k + 2] > e[k + 1]
        |      THEN 1::BIGINT << k ELSE 0::BIGINT END), 'sum')
        |    AS BIGINT) AS afp
        |FROM f ORDER BY media_id""".stripMargin,
      tags = Set(QueryDef.WarmAtTargetSf)),

    // Video fingerprinting: frames sampled through the real GIF
    // decode+composite path (q143's sampler), each hashed with the
    // still-image dHash — a clip's signature is its frame-hash
    // sequence. The oracle replays the sampler AND the hash bits from
    // the closed-form frame pixel function (the f·17 term).
    QueryDef("q155_video_fp", (s, dir) =>
      multimodal.Multimodal.videoFrameHashes(
        multimodal.Multimodal.fromSyntheticVideos(Tables.documents(s, dir)),
        everyMs = 150L)
        .select(col("media_id"),
          col("sample_idx").cast("bigint").as("sample_idx"),
          shiftrightunsigned(col("dhash"), 32).as("hash_hi"),
          col("dhash").bitwiseAND(lit(0xFFFFFFFFL)).as("hash_lo"))
        .orderBy("media_id", "sample_idx"),
      """WITH v AS (
        |  SELECT doc_id AS media_id,
        |    CAST(1 + doc_id % 6 AS BIGINT) AS nf,
        |    CAST(8 + doc_id % 9 AS BIGINT) AS w,
        |    CAST(8 + doc_id % 7 AS BIGINT) AS h,
        |    (doc_id % 1000003) * 31 AS base
        |  FROM documents),
        |s AS (
        |  SELECT media_id, w, h, base, CAST(t.i AS BIGINT) AS sample_idx,
        |    (CAST(t.i AS BIGINT) * 150) // 100 AS f
        |  FROM v, unnest(range(LEAST(
        |    CAST(ceil(nf * 100 / 150.0) AS BIGINT), 8)))
        |    AS t(i)),
        |bits AS (
        |  SELECT media_id, sample_idx, tj.j * 8 + ti.i AS pos,
        |    CASE WHEN (base + 7 * (((ti.i + 1) * w) // 9)
        |               + 13 * ((tj.j * h) // 8) + 17 * f) % 256
        |            > (base + 7 * ((ti.i * w) // 9)
        |               + 13 * ((tj.j * h) // 8) + 17 * f) % 256
        |      THEN 1 ELSE 0 END AS b
        |  FROM s, range(8) ti(i), range(8) tj(j))
        |SELECT media_id, sample_idx,
        |  bit_or(CASE WHEN b = 1 AND pos >= 32
        |    THEN (1::BIGINT << (pos - 32)) ELSE 0::BIGINT END) AS hash_hi,
        |  bit_or(CASE WHEN b = 1 AND pos < 32
        |    THEN (1::BIGINT << pos) ELSE 0::BIGINT END) AS hash_lo
        |FROM bits GROUP BY 1, 2 ORDER BY media_id, sample_idx""".stripMargin),

    // Image NEAR-dup retrieval: dHash signatures verified through the
    // sorted-neighborhood core (rank window ±8 in unsigned hash order,
    // exact hamming ≤ 4) — deterministic candidate set, so the oracle
    // replays it with a row_number window over the same key. Sort key
    // = the unsigned halves (a signed-long sig key would order bit-63
    // hashes differently per engine).
    QueryDef("q156_image_neardup", (s, dir) => {
      val sigs = multimodal.Multimodal.imageDHash(
        multimodal.Multimodal.fromSyntheticImages(Tables.documents(s, dir)))
        .select(col("media_id"), col("dhash"),
          shiftrightunsigned(col("dhash"), 32).as("hash_hi"),
          col("dhash").bitwiseAND(lit(0xFFFFFFFFL)).as("hash_lo"))
      Dedup.sortedNeighborhoodPairsFromSigs(sigs, "media_id", "dhash",
        sortCols = Seq("hash_hi", "hash_lo"), windowSize = 8, maxHamming = 4)
        .orderBy("id_a", "id_b")
    },
      """WITH ids AS (
        |  SELECT doc_id AS id, 8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h,
        |         (doc_id % 1000003) * 31 AS base
        |  FROM documents),
        |bits AS (
        |  SELECT id, j * 8 + i AS pos,
        |    CASE WHEN (base + 7 * (((i + 1) * w) // 9) + 13 * ((j * h) // 8)) % 256
        |            > (base + 7 * ((i * w) // 9) + 13 * ((j * h) // 8)) % 256
        |      THEN 1 ELSE 0 END AS b
        |  FROM ids, range(8) t1(i), range(8) t2(j)),
        |hashes AS (
        |  SELECT id,
        |    bit_or(CASE WHEN b = 1 AND pos >= 32
        |      THEN (1::BIGINT << (pos - 32)) ELSE 0::BIGINT END) AS hash_hi,
        |    bit_or(CASE WHEN b = 1 AND pos < 32
        |      THEN (1::BIGINT << pos) ELSE 0::BIGINT END) AS hash_lo
        |  FROM bits GROUP BY id),
        |r AS (
        |  SELECT id, hash_hi, hash_lo,
        |    row_number() OVER (ORDER BY hash_hi, hash_lo, id) AS rnk
        |  FROM hashes),
        |pairs AS (
        |  SELECT least(a.id, b.id) AS id_a, greatest(a.id, b.id) AS id_b,
        |    bit_count(xor(a.hash_hi, b.hash_hi))
        |      + bit_count(xor(a.hash_lo, b.hash_lo)) AS hamming
        |  FROM r a JOIN r b ON b.rnk > a.rnk AND b.rnk <= a.rnk + 8)
        |SELECT id_a, id_b, CAST(hamming AS BIGINT) AS hamming
        |FROM pairs WHERE hamming <= 4 ORDER BY id_a, id_b""".stripMargin),

    // Audio near-dup retrieval: the same signature-generic sorted-
    // neighborhood core over the 63-bit audio fingerprints — afp is
    // non-negative by construction, so the fingerprint itself is a
    // sign-safe sort key (no halves split needed, unlike q156).
    QueryDef("q157_audio_neardup", (s, dir) => {
      val sigs = multimodal.Multimodal.audioFingerprint(
        multimodal.Multimodal.fromSyntheticAudio(Tables.documents(s, dir)))
      Dedup.sortedNeighborhoodPairsFromSigs(sigs, "media_id", "afp",
        sortCols = Seq("afp"), windowSize = 8, maxHamming = 8)
        .orderBy("id_a", "id_b")
    },
      """WITH v AS (
        |  SELECT doc_id AS media_id,
        |    CAST(500 + doc_id % 1000 AS BIGINT) AS n,
        |    (doc_id % 1000003) * 31 AS base
        |  FROM documents),
        |f AS (
        |  SELECT media_id,
        |    list_transform(range(64), j ->
        |      list_aggregate(list_transform(
        |        range(j * n // 64, (j + 1) * n // 64),
        |        i -> abs((base + i * 7919) % 65536 - 32768)), 'sum')) AS e
        |  FROM v),
        |sigs AS (
        |  SELECT media_id,
        |    CAST(list_aggregate(list_transform(range(63), k ->
        |      CASE WHEN e[k + 2] > e[k + 1]
        |        THEN 1::BIGINT << k ELSE 0::BIGINT END), 'sum')
        |      AS BIGINT) AS afp
        |  FROM f),
        |r AS (
        |  SELECT media_id AS id, afp,
        |    row_number() OVER (ORDER BY afp, media_id) AS rnk
        |  FROM sigs),
        |pairs AS (
        |  SELECT least(a.id, b.id) AS id_a, greatest(a.id, b.id) AS id_b,
        |    bit_count(xor(a.afp, b.afp)) AS hamming
        |  FROM r a JOIN r b ON b.rnk > a.rnk AND b.rnk <= a.rnk + 8)
        |SELECT id_a, id_b, CAST(hamming AS BIGINT) AS hamming
        |FROM pairs WHERE hamming <= 8 ORDER BY id_a, id_b""".stripMargin),

    // Image near-dup pairs with GUARANTEED recall: exact perceptual
    // dedup first (distinct dHash classes, canonical id), then
    // pigeonhole banding — 4×16-bit bands, radius 3, so every
    // within-radius class pair shares a band bucket (recall 1.0, the
    // property q156's sorted neighborhood trades away). The cap-free
    // band self-join makes the candidate set SQL-replayable, which is
    // what finally puts hamming banding under the oracle gate.
    QueryDef("q158_image_hamming_pairs", (s, dir) => {
      val classes = multimodal.Multimodal.imageDHash(
        multimodal.Multimodal.fromSyntheticImages(Tables.documents(s, dir)))
        .groupBy("dhash").agg(min("media_id").as("canon_id"))
      Dedup.hammingBandedPairsFromSigs(classes, "canon_id", "dhash",
        maxHamming = 3, bands = 4)
        .orderBy("id_a", "id_b")
    },
      """WITH ids AS (
        |  SELECT doc_id AS id, 8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h,
        |         (doc_id % 1000003) * 31 AS base
        |  FROM documents),
        |bits AS (
        |  SELECT id, j * 8 + i AS pos,
        |    CASE WHEN (base + 7 * (((i + 1) * w) // 9) + 13 * ((j * h) // 8)) % 256
        |            > (base + 7 * ((i * w) // 9) + 13 * ((j * h) // 8)) % 256
        |      THEN 1 ELSE 0 END AS b
        |  FROM ids, range(8) t1(i), range(8) t2(j)),
        |hashes AS (
        |  SELECT id,
        |    bit_or(CASE WHEN b = 1 AND pos >= 32
        |      THEN (1::BIGINT << (pos - 32)) ELSE 0::BIGINT END) AS hash_hi,
        |    bit_or(CASE WHEN b = 1 AND pos < 32
        |      THEN (1::BIGINT << pos) ELSE 0::BIGINT END) AS hash_lo
        |  FROM bits GROUP BY id),
        |classes AS (
        |  SELECT hash_hi, hash_lo, min(id) AS canon_id
        |  FROM hashes GROUP BY 1, 2),
        |banded AS (
        |  SELECT canon_id, hash_hi, hash_lo, 0 AS band,
        |         hash_hi // 65536 AS bucket FROM classes
        |  UNION ALL SELECT canon_id, hash_hi, hash_lo, 1,
        |         hash_hi % 65536 FROM classes
        |  UNION ALL SELECT canon_id, hash_hi, hash_lo, 2,
        |         hash_lo // 65536 FROM classes
        |  UNION ALL SELECT canon_id, hash_hi, hash_lo, 3,
        |         hash_lo % 65536 FROM classes),
        |pairs AS (
        |  SELECT DISTINCT a.canon_id AS id_a, b.canon_id AS id_b,
        |    bit_count(xor(a.hash_hi, b.hash_hi))
        |      + bit_count(xor(a.hash_lo, b.hash_lo)) AS hamming
        |  FROM banded a JOIN banded b
        |    ON a.band = b.band AND a.bucket = b.bucket
        |   AND a.canon_id < b.canon_id)
        |SELECT id_a, id_b, CAST(hamming AS BIGINT) AS hamming
        |FROM pairs WHERE hamming <= 3 ORDER BY id_a, id_b""".stripMargin)
  )
}
