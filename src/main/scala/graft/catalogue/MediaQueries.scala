package graft.catalogue

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.NorthStar._
import graft.oracle.OracleSql._
import graft.functions.Hashing

/**
 * The media tier: binary payload decode, image/audio/video fingerprints
 * and near-duplicates over the harness documents.
 */
object MediaQueries {

  // opaque binary payload + typed metadata (decode stubbed: the
  // image/audio codecs aren't in this container — the Spark-side
  // schema/partitioning/batching is the real, tested part)
  val m01 = Query("m01_multimodal_meta", (s, dir) =>
      docs(s, dir).select(
        col("doc_id"),
        length(col("text").cast(BinaryType)).as("n_bytes"),
        substring(col("text"), 1, 12).as("head")),
    """SELECT doc_id, CAST(octet_length(encode(text)) AS INT) AS n_bytes,
                substring(text, 1, 12) AS head
         FROM documents""")

  val m02 = Query("m02_multimodal_decode", (s, dir) =>
      graft.multimodal.Multimodal.decodePipeline(docs(s, dir)),
    {
      // replays the PPM round trip: regenerate the deterministic payload
      // (header string + pixel bytes = text bytes cycled), then compute
      // what the DECODER extracts from it — integer sums/counts with one
      // final divide per output, so every double matches bit-for-bit.
      val hcols = (0 until 8).map(b =>
        s"""CAST(len(list_filter(lum, x -> x // 32 = $b)) AS DOUBLE)
            / (w * h) AS h$b""").mkString(",\n            ")
      s"""WITH d AS (SELECT doc_id,
              CAST(8 + doc_id % 9 AS INT) AS w,
              CAST(8 + doc_id % 7 AS INT) AS h,
              list_transform(string_split(text, ''), c -> CAST(ord(c) AS HUGEINT)) AS tb
            FROM documents),
          p AS (SELECT doc_id, w, h,
              'P6' || chr(10) || CAST(w AS VARCHAR) || ' ' || CAST(h AS VARCHAR)
                   || chr(10) || '255' || chr(10) AS header,
              list_transform(range(0, w * h * 3),
                i -> coalesce(tb[(i % greatest(len(tb), 1)) + 1], 0)) AS px
            FROM d),
          b AS (SELECT doc_id, w, h, px,
              list_concat(
                list_transform(string_split(header, ''), c -> CAST(ord(c) AS HUGEINT)),
                px) AS payload
            FROM p),
          f AS (SELECT doc_id, w, h,
              CAST(len(payload) AS BIGINT) AS n_bytes,
              ${signedSql(s"""list_reduce(list_prepend(CAST(14695981039346656037 AS HUGEINT), payload),
                (h2, b2) -> (xor(h2, b2) * CAST(1099511628211 AS HUGEINT)) % $U64)""")} AS checksum,
              list_transform(range(0, w * h), k -> CAST(px[3 * k + 1] AS BIGINT)) AS rs,
              list_transform(range(0, w * h), k -> CAST(px[3 * k + 2] AS BIGINT)) AS gs,
              list_transform(range(0, w * h), k -> CAST(px[3 * k + 3] AS BIGINT)) AS bs,
              list_transform(range(0, w * h), k ->
                (CAST(px[3 * k + 1] AS BIGINT) + CAST(px[3 * k + 2] AS BIGINT)
                 + CAST(px[3 * k + 3] AS BIGINT)) // 3) AS lum
            FROM b)
          SELECT doc_id, n_bytes, checksum, w AS width, h AS height,
            CAST(list_sum(rs) AS DOUBLE) / (w * h) AS mean_r,
            CAST(list_sum(gs) AS DOUBLE) / (w * h) AS mean_g,
            CAST(list_sum(bs) AS DOUBLE) / (w * h) AS mean_b,
            $hcols
          FROM f"""
    })

  // frame sampling over an opaque binary payload (the video/audio
  // "sample every Nth frame" primitive): the payload is treated as
  // fixed-width 16-byte frames, every 4th full frame is selected, and
  // each sampled frame gets a checksum (the codec stand-in, like m02's
  // decode). Generate + per-row expressions only — the fan-out is
  // bounded by payload size, no shuffle; rows whose payload is shorter
  // than one frame yield nothing by contract.
  val m03 = Query("m03_frame_sample", (s, dir) =>
      docs(s, dir)
        .filter(length(col("text")) >= 16)
        .select(col("doc_id"), col("text"),
          explode(sequence(lit(0L),
            (floor(length(col("text")) / 16) - 1).cast("long"), lit(4L))).as("frame_idx"))
        .select(col("doc_id"), col("frame_idx"),
          Hashing.fnvChecksum(
            expr("substring(text, CAST(frame_idx * 16 + 1 AS INT), 16)").cast(BinaryType))
            .as("frame_checksum")),
    s"""WITH f AS (SELECT doc_id, text,
                       unnest(range(0, CAST(floor(length(text) / 16) AS BIGINT), 4)) AS frame_idx
                     FROM documents WHERE length(text) >= 16),
            fr AS (SELECT doc_id, frame_idx,
                     substring(text, CAST(frame_idx * 16 + 1 AS INT), 16) AS frame
                   FROM f)
          SELECT doc_id, frame_idx,
                 ${signedSql(fnvSql("frame"))} AS frame_checksum
          FROM fr""")

  // the audio modality, decoded for real: docs rendered as RIFF/WAVE
  // PCM16 payloads, re-parsed by a genuine chunk-walking RIFF parser
  // (LE fields, pad rule, fmt contract, truncation guards), then PCM
  // features from integer accumulators — encode→parse→extract per row,
  // no shuffle (see multimodal.Multimodal.wavPipeline)
  val m04 = Query("m04_audio_decode", (s, dir) =>
      graft.multimodal.Multimodal.wavPipeline(docs(s, dir)),
    // replays the WAV round trip at the BYTE level: regenerate the
    // deterministic PCM samples, rebuild the exact 44-byte RIFF header +
    // little-endian sample bytes (so the checksum pins the encoder's
    // byte output, not just the decoded values), then compute what the
    // decoder extracts — integer accumulators, one divide per double
    // output, sqrt only for rms (divide and sqrt are cross-libm stable)
    {
      def le32(e: String) =
        s"[($e) % 256, (($e) // 256) % 256, (($e) // 65536) % 256, (($e) // 16777216) % 256]"
      // (the d/sm/sg sample-generation clauses are shared with m08's
      // replay via wavSamplesSql — one generator, the stages cannot drift)
      def le16(e: String) = s"[($e) % 256, (($e) // 256) % 256]"
      def ascii(s: String) = s.map(_.toLong).mkString("[", ", ", "]")
      val hdr = Seq(
        ascii("RIFF"), le32("36 + 2 * n"), ascii("WAVE"),
        ascii("fmt "), le32("16"), le16("1"), le16("1"),
        le32("rate"), le32("rate * 2"), le16("2"), le16("16"),
        ascii("data"), le32("2 * n")).mkString("(", " || ", ")")
      s"""WITH $wavSamplesSql,
          b AS (SELECT doc_id, n, rate, ss,
              list_transform(
                list_concat($hdr,
                  flatten(list_transform(us, u -> [u % 256, u // 256]))),
                x -> CAST(x AS HUGEINT)) AS payload
            FROM sg)
          SELECT doc_id,
            CAST(44 + 2 * n AS BIGINT) AS n_bytes,
            ${signedSql(s"""list_reduce(list_prepend(CAST(14695981039346656037 AS HUGEINT), payload),
              (h2, b2) -> (xor(h2, b2) * CAST(1099511628211 AS HUGEINT)) % $U64)""")} AS checksum,
            CAST(rate AS INT) AS sample_rate,
            CAST(n AS INT) AS n_samples,
            CAST(list_aggregate(list_transform(ss, s2 -> abs(s2)), 'max') AS BIGINT) AS peak_amp,
            CAST(len(list_filter(range(1, n), i -> (ss[i + 1] >= 0) <> (ss[i] >= 0))) AS BIGINT)
              AS zero_crossings,
            CAST(list_sum(list_transform(ss, s2 -> abs(s2))) AS DOUBLE) / n AS mean_amp,
            sqrt(CAST(list_sum(list_transform(ss, s2 -> s2 * s2)) AS DOUBLE) / n) AS rms
          FROM b"""
    })

  // perceptual image hashing — the multimodal arm of the dedup tier:
  // every PPM payload decodes to a 64-bit average hash (8×8 nearest-
  // neighbor luminance grid, integer mean compare — see
  // PpmCodec.aHash), so image near-dup detection becomes a small-
  // hamming pair search over longs: the EXACT shape d05's byte-banded
  // SimHash join already scales (band on 8 hash bytes, pigeonhole
  // guarantees hamming ≤ 7 pairs collide on some band). Per-row
  // decode+hash, no shuffle.
  val m05 = Query("m05_image_phash", (s, dir) =>
      graft.multimodal.Multimodal.phashTable(docs(s, dir)),
    // replays the aHash at the PIXEL level: regenerate the deterministic
    // PPM pixels (text bytes cycled), luminance by integer div, the 8×8
    // nearest-neighbor sample grid, and the no-division mean compare
    // (lum·64 ≥ Σ), packed with e06's bit-63-as-MinValue trick
    s"""WITH d AS (SELECT doc_id,
              CAST(8 + doc_id % 9 AS INT) AS w,
              CAST(8 + doc_id % 7 AS INT) AS h,
              list_transform(string_split(text, ''), c -> CAST(ord(c) AS BIGINT)) AS tb
            FROM documents),
          p AS (SELECT doc_id, w, h,
              list_transform(range(0, w * h * 3),
                i -> coalesce(tb[(i % greatest(len(tb), 1)) + 1], 0)) AS px
            FROM d),
          l AS (SELECT doc_id, w, h,
              list_transform(range(0, w * h), k ->
                (px[3 * k + 1] + px[3 * k + 2] + px[3 * k + 3]) // 3) AS lum
            FROM p),
          sm AS (SELECT doc_id,
              list_transform(range(0, 64), k ->
                lum[((k // 8) * h // 8) * w + ((k % 8) * w // 8) + 1]) AS smp
            FROM l),
          ag AS (SELECT doc_id, smp, list_sum(smp) AS s FROM sm)
          SELECT doc_id,
            list_reduce(list_prepend(CAST(0 AS BIGINT),
              list_transform(range(0, 64), k ->
                CASE WHEN smp[k + 1] * 64 >= s THEN
                  CASE WHEN k = 63 THEN CAST(-9223372036854775808 AS BIGINT)
                       ELSE CAST(power(2, k) AS BIGINT) END
                ELSE CAST(0 AS BIGINT) END)),
              (a, x) -> a + x) AS phash
          FROM ag""")

  // scene-cut detection — the video arm of the multimodal tier: a doc
  // is treated as a frame SEQUENCE (every 48-char slice renders its
  // own PPM through the m02/m05 encoder, dims still keyed by doc_id so
  // all frames of a doc share a resolution), each frame gets its
  // 64-bit aHash, and the hamming distance between CONSECUTIVE frame
  // hashes (lag window per doc, ordered by frame index) marks a cut
  // wherever the perceptual content jumps. Encode+hash are per-row
  // expressions; the only shuffle is the window keyed by doc_id, and a
  // doc's frame count is bounded, so the partition-local sort stays
  // tiny at any corpus scale (the 100 TB shape: billions of docs ×
  // tens of frames, never one giant ordered partition).
  val m06 = Query("m06_scene_cut", (s, dir) => {
      val frameChars = FrameChars
      val byDoc = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("frame_idx"))
      docs(s, dir)
        .filter(length(col("text")) >= 2 * frameChars)
        .select(col("doc_id"), col("text"),
          explode(sequence(lit(0L),
            (floor(length(col("text")) / frameChars) - 1).cast("long")))
            .as("frame_idx"))
        .select(col("doc_id"), col("frame_idx"),
          graft.multimodal.Multimodal.ppmAHash(
            graft.multimodal.Multimodal.ppmEncode(col("doc_id"),
              expr(s"substring(text, CAST(frame_idx * $frameChars + 1 AS INT), $frameChars)")))
            .as("phash"))
        .withColumn("prev_phash", lag(col("phash"), 1).over(byDoc))
        .filter(col("prev_phash").isNotNull)
        .select(col("doc_id"), col("frame_idx"),
          bit_count(col("phash").bitwiseXOR(col("prev_phash"))).as("hamming"))
        .withColumn("is_cut", col("hamming") >= SceneCutHamming)
    },
    // m05's pixel-level replay applied per FRAME (48-char slices, dims
    // still keyed by doc_id), then the consecutive-frame hamming via a
    // lag window — bit_count is TINYINT in DuckDB, cast to match Spark
    s"""WITH $frameHashSql
          SELECT doc_id, frame_idx,
                 CAST(bit_count(xor(phash, prev)) AS INT) AS hamming,
                 CAST(bit_count(xor(phash, prev)) AS INT) >= $SceneCutHamming AS is_cut
          FROM lg WHERE prev IS NOT NULL""")

  // keyframe selection — the stage after m06's shot-boundary
  // detection in a video-curation pipeline: each scene is represented
  // by its FIRST frame (the keyframe a downstream captioner/embedder
  // actually decodes), with the scene's frame extent alongside. Scene
  // starts = frame 0 plus every cut frame; extents close at the next
  // start or the document's frame count. Composes directly over the
  // m06 query (the cut table is the input contract, so the two stages
  // cannot drift), adds one doc-keyed window — cut counts per doc are
  // bounded by frames per doc, so the window partitions stay balanced
  // at any corpus size.
  val m07 = Query("m07_keyframes", (s, dir) => {
      val frameChars = FrameChars
      val cuts = m06.build(s, dir)
      val starts = cuts.filter(col("is_cut"))
        .select(col("doc_id"), col("frame_idx"))
        .unionByName(cuts.select(col("doc_id")).distinct()
          .withColumn("frame_idx", lit(0L)))
      val totals = docs(s, dir)
        .filter(length(col("text")) >= 2 * frameChars)
        .select(col("doc_id"),
          floor(length(col("text")) / frameChars).cast(LongType)
            .as("doc_frames"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("frame_idx"))
      starts.join(totals, Seq("doc_id"))
        .withColumn("scene_id", row_number().over(w))
        .withColumn("next_start", lead(col("frame_idx"), 1).over(w))
        .select(col("doc_id"), col("scene_id"),
          col("frame_idx").as("keyframe_idx"),
          (coalesce(col("next_start"), col("doc_frames")) - col("frame_idx"))
            .as("n_frames"))
    },
    // keyframes: m06's verified cut table as the subquery, then the same
    // starts-union + window-extent algebra
    s"""WITH cuts AS (${m06.oracle}),
            starts AS (
              SELECT doc_id, frame_idx FROM cuts WHERE is_cut
              UNION ALL
              SELECT DISTINCT doc_id, CAST(0 AS BIGINT) AS frame_idx FROM cuts),
            tot AS (SELECT doc_id,
                      CAST(floor(length(text) / $FrameChars) AS BIGINT) AS doc_frames
                    FROM documents WHERE length(text) >= ${2 * FrameChars}),
            r AS (SELECT s.doc_id, s.frame_idx, t.doc_frames,
                    CAST(row_number() OVER w AS INT) AS scene_id,
                    lead(s.frame_idx) OVER w AS next_start
                  FROM starts s JOIN tot t ON t.doc_id = s.doc_id
                  WINDOW w AS (PARTITION BY s.doc_id ORDER BY s.frame_idx))
          SELECT doc_id, scene_id, frame_idx AS keyframe_idx,
                 COALESCE(next_start, doc_frames) - frame_idx AS n_frames
          FROM r""")

  // energy-threshold audio segmentation — the VAD (voice-activity
  // detection) shape of an audio-curation pipeline, the m04 decoder's
  // segmentation stage: each doc's WAV renders a per-32-sample-window
  // energy profile (the codegen'd [[graft.functions.WavWindowEnergy]]
  // — exact integer sums of |amplitude|), a window is ACTIVE iff its
  // energy strictly exceeds the doc's mean window energy — the
  // threshold compared in PURE INTEGER form (win·nwin > total), so
  // the gate is bit-free of libm (a 0.9× slack gate was measured
  // degenerate on this corpus: window energies sit within ±10% of
  // the mean, so every window passed and every doc was one segment)
  // — and consecutive active windows merge
  // into segments via gaps-and-islands (win_idx − row_number). Both
  // windows are doc-keyed and a doc's window count is bounded (≤ n/W),
  // so partitions stay balanced at any corpus size; the profile
  // itself is a per-row projection fused into the scan.
  val m08 = Query("m08_audio_segments", (s, dir) => {
      val W = 32
      val M = graft.multimodal.Multimodal
      val wins = docs(s, dir)
        .select(col("doc_id"),
          M.wavWindowEnergy(M.wavEncode(col("doc_id"), col("text")), W)
            .as("wins"))
        .filter(size(col("wins")) >= 1)
      val wr = wins.select(col("doc_id"),
        size(col("wins")).cast(LongType).as("nwin"),
        aggregate(col("wins"), lit(0L), (a, x) => a + x).as("total"),
        posexplode(col("wins")).as(Seq("win_idx", "sum_abs")))
      val act = wr.filter(col("sum_abs") * col("nwin") > col("total"))
      val byDoc = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("win_idx"))
      val seg = act
        .withColumn("grp", col("win_idx") - row_number().over(byDoc))
        .groupBy(col("doc_id"), col("grp"))
        .agg(min(col("win_idx")).as("start_win"),
          count(lit(1)).as("n_windows"),
          sum(col("sum_abs")).as("seg_sum_abs"))
      seg
        .withColumn("seg_id", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("doc_id")).orderBy(col("start_win"))))
        .select(col("doc_id"), col("seg_id"),
          col("start_win").cast(LongType).as("start_win"),
          col("n_windows"), col("seg_sum_abs"))
    },
    // the same sample generation, windowed into exact 32-sample energy
    // sums; the integer threshold gate and the gaps-and-islands merge
    // replayed clause-for-clause
    s"""WITH $wavSamplesSql,
          we AS (SELECT doc_id,
                   list_transform(range(0, n // 32), w ->
                     CAST(list_sum(list_transform(range(w * 32, (w + 1) * 32),
                       i -> abs(ss[i + 1]))) AS BIGINT)) AS wins
                 FROM sg
                 WHERE n // 32 >= 1),
          wx AS (SELECT doc_id, CAST(len(wins) AS BIGINT) AS nwin,
                   CAST(list_sum(wins) AS BIGINT) AS total,
                   unnest(list_transform(range(0, len(wins)),
                     j -> {'i': j, 'w': wins[j + 1]})) AS u
                 FROM we),
          act AS (SELECT doc_id, CAST(u.i AS INT) AS win_idx, u.w AS sum_abs
                  FROM wx
                  WHERE u.w * nwin > total),
          isl AS (SELECT doc_id, win_idx, sum_abs,
                    win_idx - CAST(row_number() OVER (
                      PARTITION BY doc_id ORDER BY win_idx) AS INT) AS grp
                  FROM act),
          seg AS (SELECT doc_id, min(win_idx) AS start_win,
                    CAST(count(*) AS BIGINT) AS n_windows,
                    CAST(sum(sum_abs) AS BIGINT) AS seg_sum_abs
                  FROM isl GROUP BY doc_id, grp)
          SELECT doc_id,
                 CAST(row_number() OVER (
                   PARTITION BY doc_id ORDER BY start_win) AS INT) AS seg_id,
                 CAST(start_win AS BIGINT) AS start_win,
                 n_windows, seg_sum_abs
          FROM seg""")

  // image near-dup pairs — the multimodal arm of the dedup tier made
  // an actual PAIR operator (m05 builds the 64-bit aHash table; this
  // is a BAND-PAIR small-hamming join over it). Two measured design
  // decisions against this family's skew: (1) perceptual hashes of
  // templated media are low-entropy, so a single 8-bit band is a hot
  // key (3,553 hashes on one chunk at a 10× corpus → 98M candidate
  // pairs, quadratic); hamming ≤ 6 over 8 bands forces AT LEAST TWO
  // bands to match (pigeonhole: ≤ 6 errors cannot touch 7 bands), so
  // candidates join on an ORDERED BAND PAIR — a 16-bit joint chunk
  // (28 keys/hash) that collapses the hottest group to 350 and the
  // candidate volume 12× (7.9M). (2) The join runs in distinct
  // hash-VALUE space with doc expansion after the hamming filter;
  // identical-hash documents (the exact-dup mass) pair through one
  // equi-join that never touches a band.
  val m09 = Query("m09_image_neardup", (s, dir) =>
      graft.operators.Dedup.bandedHammingPairs(
        m05.build(s, dir), "doc_id", "phash", maxHamming = 6),
    // image near-dup: m05's verified hash table as the subquery, then
    // the naive all-pairs hamming filter (bit_count of xor — two's-
    // complement popcount agrees with Java's Long.bitCount)
    s"""WITH ph AS (${m05.oracle})
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 CAST(bit_count(xor(a.phash, b.phash)) AS INT) AS hamming
          FROM ph a JOIN ph b ON a.doc_id < b.doc_id
          WHERE a.phash IS NOT NULL AND b.phash IS NOT NULL
            AND bit_count(xor(a.phash, b.phash)) <= 6""")

  // video near-dup — the whole multimodal chain composed into one
  // fingerprint operator: frames → perceptual hashes (m05/m06's
  // expressions) → scene keyframes (m07's cut rule) → per-video
  // scene-hash SET → MinHash(128) + 32×4 LSH banding + exact
  // set-Jaccard verify, REUSING Dedup.minhashLshPairs verbatim (the
  // video fingerprint is just a shingle set whose "shingles" are
  // scene hashes — the d03/d04 machinery applies unchanged, recall
  // regime included: P(candidate | J ≥ 0.8) ≈ 1 at 32×4). This is
  // the mirror-site / re-encode detection a video curation pipeline
  // runs nightly; everything upstream of the pair join is per-row,
  // and the pair join inherits d04's banded near-linear candidates.
  val m10 = Query("m10_video_neardup", (s, dir) => {
      val frameChars = FrameChars
      val M = graft.multimodal.Multimodal
      val byDoc = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("frame_idx"))
      val frames = docs(s, dir)
        .filter(length(col("text")) >= 2 * frameChars)
        .select(col("doc_id"), col("text"),
          explode(sequence(lit(0L),
            (floor(length(col("text")) / frameChars) - 1).cast("long")))
            .as("frame_idx"))
        .select(col("doc_id"), col("frame_idx"),
          M.ppmAHash(M.ppmEncode(col("doc_id"),
            expr(s"substring(text, CAST(frame_idx * $frameChars + 1 AS INT), $frameChars)")))
            .as("phash"))
      val kf = frames
        .withColumn("prev", lag(col("phash"), 1).over(byDoc))
        .filter(col("prev").isNull ||
          bit_count(col("phash").bitwiseXOR(col("prev"))) >= SceneCutHamming)
      val hs = kf.groupBy(col("doc_id"))
        .agg(sort_array(collect_set(col("phash"))).as("hs"))
      graft.operators.Dedup.minhashLshPairs(hs, 0.8, k = 128,
        bands = 32, estFloor = 0.6)
    },
    // video fingerprint = the SET of scene keyframe hashes; exact set
    // Jaccard over the doubled hash stream — the ground truth the
    // Spark-side MinHash-LSH path must reproduce (d04's recall regime:
    // threshold 0.8 at 32×4 banding, P(candidate) ≈ 1)
    s"""WITH $frameHashSql,
          kf AS (SELECT doc_id, phash FROM lg
                 WHERE prev IS NULL
                    OR CAST(bit_count(xor(phash, prev)) AS INT) >= $SceneCutHamming),
          hs AS (SELECT DISTINCT doc_id, phash FROM kf),
          sizes AS (SELECT doc_id, count(*) AS n FROM hs GROUP BY doc_id),
          pair AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     count(*) AS inter
                   FROM hs a JOIN hs b
                     ON a.phash = b.phash AND a.doc_id < b.doc_id
                   GROUP BY 1, 2)
          SELECT doc_a, doc_b,
                 CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS jaccard
          FROM pair
          JOIN sizes sa ON doc_a = sa.doc_id
          JOIN sizes sb ON doc_b = sb.doc_id
          WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.8""")

  // multimodal release manifest — the m-tier's d16: every doc's media
  // health (image decodes, audio decodes), near-dup verdict (min-id
  // survivor over the m09 pair table — a doc is dropped iff a
  // smaller-id hamming-≤6 twin exists), and scene count, composed
  // from the VERIFIED m04/m05/m07/m09 queries so the manifest cannot
  // drift from its stages. kept = healthy ∧ not-a-dup — the media
  // corpus that ships to the captioner. Joins are all doc-keyed;
  // every stage's scale posture is its own documented one.
  val m11 = Query("m11_media_manifest", (s, dir) => {
      val img = m05.build(s, dir)
        .select(col("doc_id"), col("phash").isNotNull.as("image_ok"))
      val aud = m04.build(s, dir)
        .select(col("doc_id"), col("sample_rate").isNotNull.as("audio_ok"))
      val dups = m09.build(s, dir)
        .select(col("doc_b").as("doc_id")).distinct()
        .withColumn("d", lit(true))
      val scenes = m07.build(s, dir)
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_scenes"))
      img.join(aud, Seq("doc_id"))
        .join(dups, Seq("doc_id"), "left")
        .join(scenes, Seq("doc_id"), "left")
        .select(col("doc_id"), col("image_ok"), col("audio_ok"),
          coalesce(col("d"), lit(false)).as("image_dup"),
          coalesce(col("n_scenes"), lit(0L)).as("n_scenes"),
          (col("image_ok") && col("audio_ok") &&
            !coalesce(col("d"), lit(false))).as("kept"))
    },
    // the manifest composes the verified m04/m05/m06 bodies: health
    // flags from the decode subqueries, the dup verdict as a naive
    // smaller-id hamming EXISTS over the hash table, scene counts as
    // 1 + cuts per eligible doc (m07's row count per doc)
    s"""WITH ph AS (${m05.oracle}),
            aud AS (SELECT doc_id, sample_rate
                    FROM (${m04.oracle})),
            cuts AS (${m06.oracle}),
            sc AS (SELECT c.doc_id,
                     CAST(1 + sum(CASE WHEN c.is_cut THEN 1 ELSE 0 END)
                       AS BIGINT) AS n_scenes
                   FROM cuts c GROUP BY c.doc_id),
            dup AS (SELECT DISTINCT p.doc_id FROM ph p
                    JOIN ph x ON x.doc_id < p.doc_id
                    WHERE x.phash IS NOT NULL AND p.phash IS NOT NULL
                      AND bit_count(xor(x.phash, p.phash)) <= 6),
            fl AS (SELECT p.doc_id,
                     p.phash IS NOT NULL AS image_ok,
                     a.sample_rate IS NOT NULL AS audio_ok,
                     EXISTS (SELECT 1 FROM dup d
                             WHERE d.doc_id = p.doc_id) AS image_dup,
                     coalesce(sc.n_scenes, 0) AS n_scenes
                   FROM ph p
                   JOIN aud a ON a.doc_id = p.doc_id
                   LEFT JOIN sc ON sc.doc_id = p.doc_id)
          SELECT doc_id, image_ok, audio_ok, image_dup, n_scenes,
                 (image_ok AND audio_ok AND NOT image_dup) AS kept
          FROM fl""")

  // audio near-dup pairs — the audio arm of the multimodal dedup
  // triple (m09 images, m10 video, this): each doc's WAV renders a
  // 63-bit ENERGY-DELTA-SIGN fingerprint (bit b = |s[b+1]| > |s[b]|
  // over the first 64 samples — the Haitsma–Kalker/Philips audio
  // fingerprint shape on the amplitude envelope), and the pair search
  // is the SAME band-pair small-hamming engine m09 uses
  // ([[graft.operators.Dedup.bandedHammingPairs]] — one engine, two
  // modalities, the blocking analysis carries over unchanged). The
  // fingerprint is a per-row codegen'd projection (WavWindowEnergy at
  // window 1 = |amplitude| per sample, then the flat 63-term integer
  // sum [[graft.multimodal.Multimodal.audioFingerprint]]) — no shuffle
  // before the pair join, and the delta-SIGN quantization makes it
  // invariant to uniform gain, the transform a re-encoded copy
  // actually applies. Every encoded doc has ≥ 64 samples by the
  // generator's contract, so the fold never reads out of range.
  val m12 = Query("m12_audio_neardup", (s, dir) => {
      val M = graft.multimodal.Multimodal
      val fp = docs(s, dir)
        .select(col("doc_id"),
          M.wavWindowEnergy(M.wavEncode(col("doc_id"), col("text")), 1)
            .as("amps"))
        .select(col("doc_id"), M.audioFingerprint(col("amps")).as("afp"))
      graft.operators.Dedup.bandedHammingPairs(
        fp, "doc_id", "afp", maxHamming = 6)
    },
    // audio near-dup: the shared WAV sample generator (m04/m08's
    // clauses), the 63-bit delta-sign fold in exact integer list
    // arithmetic (power(2, b) exact for b <= 62 — bit 63 is never set),
    // then the naive all-pairs hamming filter
    s"""WITH $wavSamplesSql,
            fp AS (SELECT doc_id,
                     list_reduce(list_prepend(CAST(0 AS BIGINT),
                       list_transform(range(0, 63), b ->
                         CASE WHEN abs(ss[b + 2]) > abs(ss[b + 1])
                              THEN CAST(power(2, b) AS BIGINT)
                              ELSE CAST(0 AS BIGINT) END)),
                       (a, x) -> a + x) AS afp
                   FROM sg)
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 CAST(bit_count(xor(a.afp, b.afp)) AS INT) AS hamming
          FROM fp a JOIN fp b ON a.doc_id < b.doc_id
          WHERE bit_count(xor(a.afp, b.afp)) <= 6""")

  val all: Seq[Query] = Seq(m01, m02, m03, m04, m05, m06, m07, m08, m09, m10,
    m11, m12)
}
