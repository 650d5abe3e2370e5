package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Aggregators
import graft.ops.Multimodal

/** Extension-surface queries: the typed-Aggregator (UDAF) path and the
  * multimodal binary-column plumbing (SURVEY §2.2 "UDF/UDAF/UDTF surface";
  * north-star multimodal columns). The mapPartitions decode stage is
  * spec-tested (not SQL-expressible); the expression-level binary ops are
  * oracle-gated here.
  */
object ExtensionQueries {

  val queries: Seq[Query] = Seq(
    // Typed Aggregator (item-interface analogue) in an untyped agg.
    Query("q_udaf_rms", ((s, dir) =>
      Tables.table(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          Aggregators.rms(col("l_quantity")).as("rms_qty"),
          count(lit(1)).as("cnt"))
        .orderBy("l_returnflag")),
      """SELECT l_returnflag,
            ROUND(sqrt(SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT))
                       / CAST(count(*) AS DOUBLE)), 6) AS rms_qty,
            count(*) AS cnt
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),

    // Binary payload metadata: byte length, md5, header bytes as hex.
    Query("q_multimodal_meta", ((s, dir) =>
      Multimodal.withPayload(Tables.table(s, dir, "documents"), "doc_id", "text")
        .select(col("doc_id"),
          length(col("payload")).as("n_bytes"),
          md5(col("payload")).as("payload_md5"),
          lower(substring(hex(col("payload")), 1, 8)).as("header_hex"))
        .orderBy("doc_id")),
      """SELECT doc_id,
            CAST(octet_length(encode(text)) AS INT) AS n_bytes,
            md5(text) AS payload_md5,
            lower(substr(hex(encode(text)), 1, 8)) AS header_hex
         FROM documents ORDER BY doc_id"""),

    // REAL image decode (javax.imageio) gated against analytic ground
    // truth: each doc gets a deterministic synthetic PNG (geometry and
    // pixels are closed forms of doc_id — Multimodal.SyntheticImages),
    // the engine DECODES the actual PNG bytes back, and the oracle
    // recomputes the expected geometry + exact integer pixel statistics
    // without any codec. A decode defect (wrong size, band order,
    // sample corruption) breaks the hash.
    Query("q_decode_meta", ((s, dir) => {
      val payloads = Multimodal.syntheticImagePayloads(
        s, Tables.table(s, dir, "documents").select("doc_id"))
      Multimodal.decodeImageMeta(s, payloads).toDF()
        .select(col("doc_id"), col("width"), col("height"), col("n_channels"),
          col("px_sum"), col("px_min"), col("px_max"),
          round(col("px_sum").cast("double")
            / (col("width") * col("height")), 6).as("mean_px"))
        .orderBy("doc_id")
    }),
      // the engine decodes real PNG bytes; the oracle replays the synthetic
      // pixel formula (id mod 13 + 1) × (id mod 7 + 1), v = (id+3x+5y) mod 256
      """WITH g AS (
           SELECT doc_id, CAST(doc_id % 13 + 1 AS INT) AS width,
                  CAST(doc_id % 7 + 1 AS INT) AS height
           FROM documents),
         px AS (
           SELECT doc_id, width, height,
             unnest(flatten(list_transform(generate_series(0, height - 1), y ->
               list_transform(generate_series(0, width - 1), x ->
                 (doc_id + 3 * x + 5 * y) % 256)))) AS v
           FROM g)
         SELECT doc_id, width, height, CAST(1 AS INT) AS n_channels,
           CAST(SUM(v) AS BIGINT) AS px_sum,
           CAST(MIN(v) AS INT) AS px_min,
           CAST(MAX(v) AS INT) AS px_max,
           ROUND(CAST(SUM(v) AS DOUBLE) / (width * height), 6) AS mean_px
         FROM px GROUP BY doc_id, width, height
         ORDER BY doc_id"""),

    // Byte-stride downsample ("resize" stand-in): every 4th byte; the
    // output length and md5 prove the selection picked exactly the right
    // bytes (ASCII fixture — string-side oracle sees the same bytes).
    Query("q_resize", ((s, dir) =>
      Multimodal.withPayload(
          Tables.table(s, dir, "documents").where(col("doc_id") < 100),
          "doc_id", "text")
        // materialize the downsample ONCE: it's an aggregate-HOF fold, and
        // Catalyst neither CSEs across lambda bodies nor codegens HOFs —
        // inlining it at both use sites would run the O(len) fold twice
        // per row (the q_redact duplication class)
        .select(col("doc_id"), col("payload"),
          Multimodal.stridedDownsample(col("payload"), 4).as("resized"))
        .select(col("doc_id"),
          length(col("payload")).as("orig_bytes"),
          length(col("resized")).as("out_bytes"),
          md5(col("resized")).as("resized_md5"))
        .orderBy("doc_id")),
      """WITH t AS (
           SELECT doc_id, text, length(text) AS len FROM documents
           WHERE doc_id < 100),
         r AS (
           SELECT doc_id, len,
             array_to_string(list_transform(
               generate_series(0, CAST(ceil(CAST(len AS DOUBLE) / 4) AS INT) - 1),
               i -> substr(text, i * 4 + 1, 1)), '') AS resized
           FROM t)
         SELECT doc_id, CAST(len AS INT) AS orig_bytes,
           CAST(length(resized) AS INT) AS out_bytes,
           md5(resized) AS resized_md5
         FROM r ORDER BY doc_id"""),

    // Frame-sampling plan: 64-byte "frames", every 2nd sampled, ≤4 per
    // item; frame_md5 proves the byte windows are the real payload bytes
    // (fixture text is ASCII, so the oracle's string substr sees the same
    // bytes the engine's binary substr does).
    Query("q_frames", ((s, dir) =>
      Multimodal.sampleFrames(
          Multimodal.withPayload(
            Tables.table(s, dir, "documents").where(col("doc_id") < 100),
            "doc_id", "text"),
          frameSize = 64, stride = 2, maxFrames = 4)
        .orderBy("doc_id", "frame_idx")),
      """WITH t AS (
           SELECT doc_id, text, length(text) AS len FROM documents
           WHERE doc_id < 100 AND length(text) > 0),
         n AS (
           SELECT doc_id, text, len,
             CAST(ceil(CAST(len AS DOUBLE) / 64) AS INT) AS total
           FROM t),
         sel AS (
           SELECT doc_id, text, len,
             least(CAST(ceil(CAST(total AS DOUBLE) / 2) AS INT), 4) AS nsel
           FROM n),
         g AS (
           SELECT doc_id, text, len,
             unnest(generate_series(0, nsel - 1)) AS s
           FROM sel)
         SELECT doc_id,
           CAST(s * 2 AS INT) AS frame_idx,
           CAST(s * 2 * 64 AS INT) AS byte_offset,
           CAST(least(64, len - s * 2 * 64) AS INT) AS n_bytes,
           md5(substr(text, CAST(s * 2 * 64 + 1 AS INT), 64)) AS frame_md5
         FROM g ORDER BY doc_id, frame_idx"""),

    // ── Image near-dup via perceptual hash (dHash) over REAL decode ─────
    // The image-dedup stage a multimodal training pipeline runs: each doc
    // gets a deterministic 16×16 h60-noise PNG (ids ≡ 1 mod 25 planted as
    // 3-pixel perturbations of id−1 — Multimodal.NoiseImages), the engine
    // DECODES the actual PNG bytes (javax.imageio), dHashes the decoded
    // raster (9×8 gradient grid → 8 row-bands), and pairs come from the
    // pigeonhole band join (recall-lossless at Hamming ≤ 7, so the
    // brute-force oracle — which replays every pixel analytically — is
    // exactly equal). Planted pairs land at Hamming ≤ 3; independent
    // noise pairs sit near 32 and never appear. Band width is the
    // ADAPTIVE measured-count lever (Multimodal.adaptiveSuperBandBits,
    // r14): ≤2¹⁰ docs join the 8 exact byte-bands; above that the plan
    // switches to 16-bit super-bands + Hamming-1 multi-probe (~30× fewer
    // candidates on noise) — output-invariant either way, so the oracle
    // replays both regimes unchanged.
    Query("q_image_neardup", ((s, dir) =>
      Multimodal.imageNearDups(
          Multimodal.decodeImageDHash(s,
            Multimodal.syntheticNoisePayloads(
              s, Tables.table(s, dir, "documents").select("doc_id"))),
          maxHamming = 7)
        .orderBy("id_a", "id_b")),
      // the engine dHashes real decoded PNG pixels; the oracle replays the
      // NoiseImages pixel formula (h60 low byte + planted-variant CASE),
      // the 9×8 nearest-neighbor grid ([0,1,3,5,7,8,10,12,14] × even rows),
      // and brute-force band-wise Hamming — exactly equal to the banded
      // engine search because 8-band pigeonhole recall is 1 at ≤ 7.
      s"""WITH b AS (SELECT doc_id, ${noiseBandsSql} AS bands FROM documents),
         p AS (SELECT a.doc_id AS id_a, c.doc_id AS id_b,
           list_sum(list_transform(generate_series(1,8), i ->
             bit_count(xor(a.bands[i], c.bands[i])))) AS hamming
           FROM b a JOIN b c ON a.doc_id < c.doc_id)
         SELECT id_a, id_b, CAST(hamming AS BIGINT) AS hamming
         FROM p WHERE hamming <= 7 ORDER BY id_a, id_b"""),

    // ── REAL multi-frame video-container decode (animated GIF) ──────────
    // Each doc gets a deterministic 2-4-frame animated GIF (per-frame
    // pixels are h60 closed forms — Multimodal.NoiseVideo), the engine
    // decodes EVERY frame back through ImageIO's sequence reader
    // (getNumImages + indexed read, palette applied via getRGB), and the
    // oracle replays every pixel of every frame analytically. One row
    // per (doc, frame) with exact integer pixel statistics — a frame
    // count, palette, or sequencing bug breaks the hash. Real codec
    // video stays FakeDecoder-stubbed; GIF is the container this JDK
    // honestly decodes end to end.
    Query("q_video_frames", ((s, dir) =>
      Multimodal.decodeVideoFrames(s,
          Multimodal.syntheticVideoPayloads(
            s, Tables.table(s, dir, "documents").select("doc_id")))
        .orderBy("doc_id", "frame_idx")),
      // the engine decodes every animated-GIF frame; the oracle replays the
      // NoiseVideo pixel formula per (doc, frame, x, y).
      s"""WITH d AS (SELECT doc_id,
             CAST(2 + doc_id % 3 AS INT) AS nf FROM documents),
         fr AS (SELECT doc_id, CAST(unnest(generate_series(0, nf - 1))
             AS INT) AS frame_idx FROM d),
         px AS (SELECT doc_id, frame_idx, ${noiseVideoPxSql} AS v
           FROM fr,
             (SELECT unnest(generate_series(0, 15)) AS x) gx,
             (SELECT unnest(generate_series(0, 15)) AS y) gy)
         SELECT doc_id, frame_idx, 16 AS width, 16 AS height,
           CAST(SUM(v) AS BIGINT) AS px_sum,
           CAST(min(v) AS INT) AS px_min, CAST(max(v) AS INT) AS px_max
         FROM px GROUP BY 1, 2 ORDER BY doc_id, frame_idx"""),

    // ── REAL AVI container decode (hand RIFF parse, uncompressed DIB) ───
    // Each doc gets a deterministic multi-frame AVI — a hand-built RIFF
    // container (avih/strh/strf headers, movi frame chunks, idx1 index)
    // holding uncompressed 24-bit bottom-up DIB frames with a REAL padded
    // row stride (15 px → 45 → 48 bytes). The engine re-parses the
    // container byte-by-byte (frame count cross-checked against BOTH the
    // avih header and the idx1 entry count) and decodes every frame; the
    // oracle replays every pixel analytically. The Motion-JPEG sibling
    // (real per-frame ImageIO JPEG decode through the same parser) is
    // spec-gated in MultimodalSpec — JPEG is lossy, so no cross-engine
    // hash; FakeDecoder now stands in ONLY for inter-frame codecs.
    Query("q_avi_frames", ((s, dir) =>
      Multimodal.decodeAviFrames(s,
          Multimodal.syntheticAviPayloads(
            s, Tables.table(s, dir, "documents").select("doc_id")))
        .orderBy("doc_id", "frame_idx")),
      // the engine hand-parses the RIFF AVI and decodes every DIB frame;
      // the oracle replays the NoiseAvi pixel formula per (doc, frame, x, y)
      s"""WITH d AS (SELECT doc_id,
             CAST(2 + doc_id % 3 AS INT) AS nf FROM documents),
         fr AS (SELECT doc_id, CAST(unnest(generate_series(0, nf - 1))
             AS INT) AS frame_idx FROM d),
         px AS (SELECT doc_id, frame_idx, ${noiseAviPxSql} AS v
           FROM fr,
             (SELECT unnest(generate_series(0, 14)) AS x) gx,
             (SELECT unnest(generate_series(0, 11)) AS y) gy)
         SELECT doc_id, frame_idx, 15 AS width, 12 AS height,
           CAST(SUM(v) AS BIGINT) AS px_sum,
           CAST(min(v) AS INT) AS px_min, CAST(max(v) AS INT) AS px_max
         FROM px GROUP BY 1, 2 ORDER BY doc_id, frame_idx"""),

    // ── REAL INTER-FRAME codec decode (MS-RLE8 delta frames) ────────────
    // The codec class that was FakeDecoder-stubbed until r16: Microsoft
    // RLE8 (BI_RLE8, a published AVI codec) carries TEMPORAL deltas —
    // each non-key frame's bitstream starts from the previous frame's
    // pixels and writes only changed runs, skipping preserved regions
    // with cursor escapes. The engine decodes the real bitstream
    // (keyframe + delta frames + palette) through the same hand RIFF
    // parser; the oracle replays every pixel through the closed-form
    // last-change logic (value at frame f = h60 of the last g ≤ f where
    // the change hash fires), so a broken inter-frame carry — e.g.
    // decoding deltas against a zero buffer — breaks the hash. H.264-
    // class DSP codecs remain the one permanent environment boundary.
    Query("q_rle_delta_frames", ((s, dir) =>
      Multimodal.decodeAviFrames(s,
          Multimodal.syntheticAviPayloads(
            s, Tables.table(s, dir, "documents").select("doc_id"),
            codec = "RLE8"))
        .orderBy("doc_id", "frame_idx")),
      // the engine decodes the real MS-RLE8 keyframe+delta bitstreams; the
      // oracle replays the closed-form LAST-CHANGE pixel logic: a pixel at
      // frame f carries the value hash of the last g ≤ f whose change hash
      // fired (g=0 always fires — the keyframe)
      s"""WITH d AS (SELECT doc_id,
             CAST(2 + doc_id % 3 AS INT) AS nf FROM documents),
         fr AS (SELECT doc_id, CAST(unnest(generate_series(0, nf - 1))
             AS INT) AS f FROM d),
         gg AS (SELECT doc_id, f, CAST(unnest(generate_series(0, f))
             AS INT) AS g FROM fr),
         ch AS (SELECT doc_id, f, g, x, y FROM gg,
             (SELECT unnest(generate_series(0, 14)) AS x) gx,
             (SELECT unnest(generate_series(0, 11)) AS y) gy
           WHERE g = 0 OR ${rleChangedSql} = 0),
         lg AS (SELECT doc_id, f, x, y, max(g) AS g FROM ch
           GROUP BY doc_id, f, x, y),
         px AS (SELECT doc_id, f, ${rleValSql} AS v FROM lg)
         SELECT doc_id, f AS frame_idx, 15 AS width, 12 AS height,
           CAST(SUM(v) AS BIGINT) AS px_sum,
           CAST(min(v) AS INT) AS px_min, CAST(max(v) AS INT) AS px_max
         FROM px GROUP BY 1, 2 ORDER BY doc_id, frame_idx"""),

    // ── REAL audio decode (javax.sound.sampled) gated analytically ──────
    // Each doc gets a deterministic 16-bit PCM mono WAV (samples are h60
    // closed forms of doc_id — Multimodal.NoiseAudio), the engine decodes
    // the actual RIFF/WAV bytes back through the JDK audio stack (format
    // asserted FROM the decoded header), and the oracle replays every
    // sample analytically: count/rate/duration plus exact-integer-backed
    // min/max/mean/RMS. A framing, endianness, or header bug breaks the
    // hash. The +0.0 normalizes IEEE −0.0 (the q_knn_ci contract).
    Query("q_audio_meta", ((s, dir) =>
      Multimodal.decodeAudioMeta(s,
          Multimodal.syntheticAudioPayloads(
            s, Tables.table(s, dir, "documents").select("doc_id")))
        .toDF()
        .select(col("doc_id"), col("n_samples"), col("sample_rate"),
          col("duration_ms"), col("s_min"), col("s_max"),
          (round(col("s_sum").cast("double") / col("n_samples"), 6)
            + lit(0.0)).as("mean_amp"),
          round(sqrt(col("s_sumsq").cast("double") / col("n_samples")), 6)
            .as("rms_amp"))
        .orderBy("doc_id")),
      // the engine decodes real WAV bytes; the oracle replays the NoiseAudio
      // sample formula (h60 in [-2000,2000] + planted-variant CASE) and the
      // exact integer statistics — format fields are the fixture constants
      // the decoded header must reproduce.
      s"""WITH d AS (SELECT doc_id,
             (512 + ((doc_id // 25) % 4) * 128) AS n FROM documents),
         sm AS (SELECT doc_id, n,
             unnest(generate_series(0, n - 1)) AS i FROM d),
         v AS (SELECT doc_id, n, ${audioSampleSql} AS s FROM sm),
         a AS (SELECT doc_id, CAST(max(n) AS INT) AS n_samples,
             SUM(CAST(s AS BIGINT)) AS ssum,
             SUM(CAST(s AS BIGINT) * CAST(s AS BIGINT)) AS ssq,
             CAST(min(s) AS INT) AS s_min, CAST(max(s) AS INT) AS s_max
           FROM v GROUP BY doc_id)
         SELECT doc_id, n_samples, 8000 AS sample_rate,
           CAST((n_samples * 1000) // 8000 AS BIGINT) AS duration_ms,
           s_min, s_max,
           (ROUND(CAST(ssum AS DOUBLE) / n_samples, 6) + 0.0) AS mean_amp,
           ROUND(sqrt(CAST(ssq AS DOUBLE) / n_samples), 6) AS rms_amp
         FROM a ORDER BY doc_id"""),

    // ── Audio near-dup via energy dHash over REAL decode ────────────────
    // The audio-dedup stage (q_image_neardup's sibling, VERDICT r13 #4):
    // decoded PCM → 65-frame exact energy grid → adjacent-energy gradient
    // signs → the SAME 8-band pigeonhole pair machinery (incl. the
    // adaptive super-band lever), recall-lossless at Hamming ≤ 7, so the
    // brute-force oracle — replaying every sample analytically — is
    // exactly equal. Planted variants (ids ≡ 1 mod 25, ≤3 corrupted
    // samples) pair close; independent noise clips sit near Hamming 32.
    Query("q_audio_neardup", ((s, dir) =>
      Multimodal.imageNearDups(
          Multimodal.decodeAudioDHash(s,
            Multimodal.syntheticAudioPayloads(
              s, Tables.table(s, dir, "documents").select("doc_id"))),
          maxHamming = 7)
        .orderBy("id_a", "id_b")),
      // brute-force replay of the energy dHash: per-sample closed forms →
      // 65-frame exact energy grid (frame = (i*65) div n, the engine's
      // integer arithmetic) → gradient-sign bands → band-wise Hamming.
      s"""WITH d AS (SELECT doc_id,
             (512 + ((doc_id // 25) % 4) * 128) AS n FROM documents),
         sm AS (SELECT doc_id, n,
             unnest(generate_series(0, n - 1)) AS i FROM d),
         v AS (SELECT doc_id, (i * 65) // n AS k,
             ${audioSampleSql} AS s FROM sm),
         e AS (SELECT doc_id, k,
             SUM(CAST(s AS BIGINT) * CAST(s AS BIGINT)) AS en
           FROM v GROUP BY doc_id, k),
         bl AS (SELECT doc_id, list(en ORDER BY k) AS es FROM e
           GROUP BY doc_id),
         b AS (SELECT doc_id, list_transform(generate_series(0,7), y ->
             list_sum(list_transform(generate_series(0,7), x ->
               CASE WHEN es[8*y + x + 2] > es[8*y + x + 1]
               THEN (1<<x) ELSE 0 END))) AS bands FROM bl),
         p AS (SELECT a.doc_id AS id_a, c.doc_id AS id_b,
           list_sum(list_transform(generate_series(1,8), i ->
             bit_count(xor(a.bands[i], c.bands[i])))) AS hamming
           FROM b a JOIN b c ON a.doc_id < c.doc_id)
         SELECT id_a, id_b, CAST(hamming AS BIGINT) AS hamming
         FROM p WHERE hamming <= 7 ORDER BY id_a, id_b"""),
  )

  /** DuckDB replay of one [[Multimodal.NoiseAvi]] pixel. */
  private def noiseAviPxSql: String =
    "(" + graft.functions.Hashes.h60Sql(
      "'avi:'||CAST(doc_id AS VARCHAR)||':'||CAST(frame_idx AS VARCHAR)" +
        "||':'||CAST(x AS VARCHAR)||':'||CAST(y AS VARCHAR)") + " % 256)"

  /** DuckDB replay of the [[Multimodal.NoiseAvi]] RLE8 change hash
    * (fires when ≡ 0 mod 8) for candidate frame `g`. */
  private def rleChangedSql: String =
    "(" + graft.functions.Hashes.h60Sql(
      "'rled:'||CAST(doc_id AS VARCHAR)||':'||CAST(g AS VARCHAR)" +
        "||':'||CAST(x AS VARCHAR)||':'||CAST(y AS VARCHAR)") + " % 8)"

  /** DuckDB replay of the [[Multimodal.NoiseAvi]] RLE8 value hash at the
    * last-change frame `g`. */
  private def rleValSql: String =
    "(" + graft.functions.Hashes.h60Sql(
      "'rlev:'||CAST(doc_id AS VARCHAR)||':'||CAST(g AS VARCHAR)" +
        "||':'||CAST(x AS VARCHAR)||':'||CAST(y AS VARCHAR)") + " % 256)"

  /** DuckDB replay of one [[Multimodal.NoiseVideo]] pixel. */
  private def noiseVideoPxSql: String =
    "(" + graft.functions.Hashes.h60Sql(
      "'vid:'||CAST(doc_id AS VARCHAR)||':'||CAST(frame_idx AS VARCHAR)" +
        "||':'||CAST(x AS VARCHAR)||':'||CAST(y AS VARCHAR)") + " % 256)"

  /** DuckDB replay of one [[Multimodal.NoiseAudio]] sample: the h60 hash
    * of "aud:id:i" in [−2000, 2000], with the planted-variant CASE
    * (ids ≡ 1 mod 25 take id−1's samples except where i % 331 == 0). */
  private def audioSampleSql: String = {
    def h(id: String) = "((" + graft.functions.Hashes.h60Sql(
      s"'aud:'||CAST($id AS VARCHAR)||':'||CAST(i AS VARCHAR)") +
      " % 4001) - 2000)"
    s"(CASE WHEN doc_id % 25 = 1 AND i % 331 <> 0 " +
      s"THEN ${h("(doc_id - 1)")} ELSE ${h("doc_id")} END)"
  }

  /** DuckDB replay of one [[Multimodal.NoiseImages]] pixel: the h60 low
    * byte with the planted-variant CASE (ids ≡ 1 mod 25 take id−1's
    * pixels except where (y·16+x) % 97 == 0). */
  private def noisePxSql(gx: String, gy: String): String = {
    def h(id: String) = "(" + graft.functions.Hashes.h60Sql(
      s"'img:'||CAST($id AS VARCHAR)||':'||CAST($gx AS VARCHAR)" +
        s"||':'||CAST($gy AS VARCHAR)") + " % 256)"
    s"(CASE WHEN doc_id % 25 = 1 AND (($gy) * 16 + ($gx)) % 97 <> 0 " +
      s"THEN ${h("(doc_id - 1)")} ELSE ${h("doc_id")} END)"
  }

  /** The 8 dHash row-bands of a doc's noise image, as a DuckDB list
    * expression (9×8 nearest-neighbor grid over the 16×16 image). */
  private def noiseBandsSql: String =
    s"""list_transform(generate_series(0,7), y ->
          list_sum(list_transform(generate_series(0,7), x ->
            CASE WHEN ${noisePxSql("([0,1,3,5,7,8,10,12,14])[x+2]", "(2*y)")} >
                      ${noisePxSql("([0,1,3,5,7,8,10,12,14])[x+1]", "(2*y)")}
            THEN (1<<x) ELSE 0 END)))"""
}
