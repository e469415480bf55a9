package graft.queries

import org.apache.spark.sql.functions._
import graft.Query
import graft.ops.{Multimodal, Similarity}
import Shared.docs

/** Multimodal plumbing (`m*`) over the media payloads planted from
  * `documents`: metadata, decode statistics, frames, image and audio
  * transforms, perceptual hashes and fingerprints. */
object MultimodalQueries {

  def all: Seq[Query] = Seq(

    // ---- multimodal plumbing (decode step is a documented stub) --------
    Query("m1_media_meta", Some(
      // Mirrors decodeStub's reachable branches for UTF-8 text payloads:
      // a text CAN spell 'RIFF....WAVE' in printable ASCII (-> 'wav'),
      // while the PNG/JPEG magic bytes (0x89 / 0xFF) cannot begin valid
      // UTF-8, so those branches are unreachable here. Byte positions are
      // checked on hex(blob) (2 hex chars/byte) since DuckDB substring is
      // VARCHAR-only: bytes 1-4 = hex 1-8 'RIFF', bytes 9-12 = hex 17-24
      // 'WAVE'.
      ("SELECT doc_id, CASE WHEN octet_length(encode(text)) = 0 THEN 'empty' " +
        "WHEN octet_length(encode(text)) >= 28 AND substring(hex(encode(text)), 1, 8) = '52494646' " +
        "AND substring(hex(encode(text)), 17, 8) = '57415645' THEN 'wav' " +
        "ELSE 'raw' END AS format, " +
        "octet_length(encode(text))::BIGINT AS n_bytes FROM documents ORDER BY doc_id")))((s, dir) =>
      // width/height for fake text payloads are hash-derived pseudo-decode
      // noise (real PNG/JPEG/WAV header parsing is spec-verified on
      // hand-built bytes); format + byte count are the oracle surface
      Multimodal.withMediaMeta(
          Multimodal.asBinaryPayload(docs(s, dir), "text"), "payload")
        .select(col("doc_id"), col("media_meta.format").as("format"),
          col("media_meta.n_bytes").as("n_bytes"))
        .orderBy("doc_id")),
    Query("m2_media_features", None)((s, dir) => {
      // features is array<float>; projected to scalar summaries (dim, L2
      // norm, first component, content hash) — arrays are unhashable for
      // the driver's pandas-side rows-only canonicalization.
      // Every 10th doc is wrapped in-plan into a REAL PCM-16 WAV (44-byte
      // canonical header + the first 64 text bytes as sample data), so
      // the real RIFF chunk-walk + sample decode runs against testdata —
      // audio_stats is the decoded (n/mean/rms/peak) for those, null for
      // raw payloads (whose pixel decode remains the documented stub).
      // ... and every 10th+5 doc into a REAL 4x4 24-bpp BMP (54-byte DIB
      // header + 48 text bytes as BGR pixel rows; stride 12 needs no
      // padding), so the real pixel decode runs against testdata too —
      // image_stats carries the decoded per-channel means for those.
      // Every 10th+7 doc becomes a REAL 4x4 8-bit RGB PNG of the same 48
      // text bytes (deflate + CRC in-plan), driving the inflate+unfilter
      // decode path against testdata as well.
      val hdr = lit(Multimodal.wavPcm16Header(dataBytes = 64))
      val bmpHdr = lit(Multimodal.bmp24Header(4, 4))
      val wrapped = Multimodal.asBinaryPayload(docs(s, dir), "text")
        .withColumn("payload",
          when(col("doc_id") % 10 === 0,
            concat(hdr, substring(rpad(col("text"), 64, "x").cast("binary"), 1, 64)))
          .when(col("doc_id") % 10 === 5,
            concat(bmpHdr, substring(rpad(col("text"), 48, "x").cast("binary"), 1, 48)))
          .when(col("doc_id") % 10 === 7,
            Multimodal.pngRgb8Payload(col("payload"), 4, 4))
            .otherwise(col("payload")))
      Multimodal.withImageStats(
          Multimodal.withAudioStats(
            Multimodal.withFeatures(wrapped, "payload"), "payload"), "payload")
        .select(col("doc_id"),
          size(col("features")).as("dim"),
          round(sqrt(Similarity.dot(col("features").cast("array<double>"),
            col("features").cast("array<double>"))), 4).as("norm"),
          round(element_at(col("features"), 1).cast("double"), 4).as("f1"),
          xxhash64(to_json(col("features"))).as("features_hash"),
          col("audio_stats.n_samples").as("audio_n_samples"),
          round(col("audio_stats.rms"), 6).as("audio_rms"),
          round(col("audio_stats.peak"), 6).as("audio_peak"),
          col("image_stats.n_pixels").as("img_n_pixels"),
          round(col("image_stats.mean_r"), 6).as("img_mean_r"),
          round(col("image_stats.mean_g"), 6).as("img_mean_g"),
          round(col("image_stats.mean_b"), 6).as("img_mean_b"))
        .orderBy("doc_id")
    }),
    Query("m2b_decode_stats", Some(
      // Recomputes the planted-payload decode math from the raw text bytes:
      // WAV samples are LE16 pairs of rpad(text,64) normalized to [-1,1);
      // BMP pixels are BGR triples of rpad(text,48); PNG pixels are RGB
      // triples of the same 48 bytes (the deflate round-trip is exact, so
      // the byte stream the Spark decoder reconstructs IS this slice).
      // Text is pure ASCII in the corpus, so unicode(char) == byte value.
      ("WITH base AS (SELECT doc_id, rpad(text, 64, 'x') AS t64, rpad(text, 48, 'x') AS t48 " +
        "FROM documents WHERE doc_id % 10 IN (0, 5, 7)), " +
        "audio AS (SELECT doc_id, count(*)::BIGINT AS n, avg(s) AS mean, " +
        "sqrt(avg(s*s)) AS rms, max(abs(s)) AS peak FROM (" +
        "SELECT q.doc_id, (CASE WHEN v >= 32768 THEN v - 65536 ELSE v END) / 32768.0 AS s FROM (" +
        "SELECT b.doc_id, unicode(substring(b.t64, (2*t.i+1)::INT, 1)) " +
        "+ 256*unicode(substring(b.t64, (2*t.i+2)::INT, 1)) AS v " +
        "FROM base b, range(32) t(i) WHERE b.doc_id % 10 = 0) q) GROUP BY doc_id), " +
        "img AS (SELECT doc_id, count(*)::BIGINT AS n, avg(r) AS mr, avg(g) AS mg, avg(bl) AS mb FROM (" +
        "SELECT b.doc_id, " +
        "CASE WHEN b.doc_id % 10 = 5 THEN unicode(substring(b.t48, (3*t.i+3)::INT, 1)) " +
        "ELSE unicode(substring(b.t48, (3*t.i+1)::INT, 1)) END AS r, " +
        "unicode(substring(b.t48, (3*t.i+2)::INT, 1)) AS g, " +
        "CASE WHEN b.doc_id % 10 = 5 THEN unicode(substring(b.t48, (3*t.i+1)::INT, 1)) " +
        "ELSE unicode(substring(b.t48, (3*t.i+3)::INT, 1)) END AS bl " +
        "FROM base b, range(16) t(i) WHERE b.doc_id % 10 IN (5, 7)) GROUP BY doc_id) " +
        "SELECT b.doc_id, a.n AS audio_n_samples, round(a.mean, 6) AS audio_mean, " +
        "round(a.rms, 6) AS audio_rms, round(a.peak, 6) AS audio_peak, " +
        "i.n AS img_n_pixels, round(i.mr, 6) AS img_mean_r, " +
        "round(i.mg, 6) AS img_mean_g, round(i.mb, 6) AS img_mean_b " +
        "FROM base b LEFT JOIN audio a USING (doc_id) LEFT JOIN img i USING (doc_id) " +
        "ORDER BY b.doc_id")))((s, dir) => {
      // Hash-green slice of the real decoders: every planted payload's
      // sample/pixel bytes are a KNOWN byte transform of the document text
      // (WAV: 64 bytes as LE16 pairs; BMP: 48 bytes as BGR triples; PNG:
      // 48 bytes as RGB triples through a real deflate round-trip), so the
      // decoded statistics are SQL-derivable from the text and DuckDB can
      // oracle them byte-for-byte — the decoders run for real, the oracle
      // recomputes their math from the raw bytes.
      val hdr = lit(Multimodal.wavPcm16Header(dataBytes = 64))
      val bmpHdr = lit(Multimodal.bmp24Header(4, 4))
      val wrapped = Multimodal.asBinaryPayload(docs(s, dir), "text")
        .filter(col("doc_id") % 10 === 0 || col("doc_id") % 10 === 5 || col("doc_id") % 10 === 7)
        .withColumn("payload",
          when(col("doc_id") % 10 === 0,
            concat(hdr, substring(rpad(col("text"), 64, "x").cast("binary"), 1, 64)))
          .when(col("doc_id") % 10 === 5,
            concat(bmpHdr, substring(rpad(col("text"), 48, "x").cast("binary"), 1, 48)))
          .otherwise(Multimodal.pngRgb8Payload(col("payload"), 4, 4)))
      Multimodal.withImageStats(
          Multimodal.withAudioStats(wrapped, "payload"), "payload")
        .select(col("doc_id"),
          col("audio_stats.n_samples").as("audio_n_samples"),
          round(col("audio_stats.mean"), 6).as("audio_mean"),
          round(col("audio_stats.rms"), 6).as("audio_rms"),
          round(col("audio_stats.peak"), 6).as("audio_peak"),
          col("image_stats.n_pixels").as("img_n_pixels"),
          round(col("image_stats.mean_r"), 6).as("img_mean_r"),
          round(col("image_stats.mean_g"), 6).as("img_mean_g"),
          round(col("image_stats.mean_b"), 6).as("img_mean_b"))
        .orderBy("doc_id")
    }),
    Query("m9_adpcm_stats", Some(
      // golden per-variant stats (verified against the spec's independent
      // reference decoder) — ADPCM's stateful nibble recursion is not
      // structurally SQL-replayable, so constants stand in for the
      // closed form (the m8 planting discipline, one level removed)
      ("SELECT doc_id, 65::BIGINT AS n_samples, " +
        "CASE (doc_id % 40) WHEN 3 THEN -0.045437 WHEN 13 THEN -0.011611 " +
        "WHEN 23 THEN -0.022701 ELSE -0.026201 END AS mean, " +
        "CASE (doc_id % 40) WHEN 3 THEN 0.277715 WHEN 13 THEN 0.283089 " +
        "WHEN 23 THEN 0.288659 ELSE 0.271879 END AS rms, " +
        "CASE (doc_id % 40) WHEN 3 THEN 0.460754 WHEN 13 THEN 0.528046 " +
        "WHEN 23 THEN 0.57196 ELSE 0.533844 END AS peak " +
        "FROM documents WHERE doc_id % 10 = 3 ORDER BY doc_id")))((s, dir) => {
      // REAL compressed-audio sample decode: four closed-form PCM
      // signals are ADPCM-encoded ON THE DRIVER (fixture encoder) and
      // planted as literals; the ENGINE runs the real nibble-walk
      // decoder per row. The oracle carries golden per-variant stats
      // verified in MultimodalSpec against an independently-typed
      // reference decoder — ADPCM's stateful recursion is the one
      // decode DuckDB cannot replay structurally (the m2 JPEG class),
      // so the constants stand in for the closed form.
      val variants = (0 until 4).map { v =>
        val pcm = Array.tabulate[Short](64)(j =>
          (((j + 1) * (2 * v + 3) * 997) % 32768 - 16384).toShort)
        lit(Multimodal.imaAdpcmWav(pcm, blockAlign = 36))
      }
      val planted = docs(s, dir).filter(col("doc_id") % 10 === 3)
        .withColumn("payload",
          when(col("doc_id") % 40 === 3, variants(0))
            .when(col("doc_id") % 40 === 13, variants(1))
            .when(col("doc_id") % 40 === 23, variants(2))
            .otherwise(variants(3)))
      Multimodal.withAudioStats(planted.select(col("doc_id"), col("payload")), "payload")
        .select(col("doc_id"),
          col("audio_stats.n_samples").as("n_samples"),
          round(col("audio_stats.mean") + lit(5e-10), 6).as("mean"),
          round(col("audio_stats.rms") + lit(5e-10), 6).as("rms"),
          round(col("audio_stats.peak") + lit(5e-10), 6).as("peak"))
        .orderBy("doc_id")
    }),
    Query("m16_flac_stats", Some(
      // replay the FLAC decode from the planting closed form (lossless:
      // decoded == planted): the four 64-sample block formulas of
      // Multimodal.flacSignal, then exact dyadic stats — sums of
      // v/2^15 and (v/2^15)^2 over 256 terms stay under 53 bits, so
      // both engines produce bit-identical doubles
      ("WITH d AS (SELECT doc_id FROM documents WHERE doc_id % 10 = 9), " +
        "s AS (SELECT d.doc_id, CASE " +
        "WHEN j.range < 64 THEN (doc_id % 1000) * 16 - 8000 " +
        "WHEN j.range < 128 THEN ((doc_id * 37 + j.range * 251) % 4096) - 2048 " +
        "WHEN j.range < 192 THEN ((doc_id % 100) * 3 - 150) + ((doc_id % 7) - 3) * (j.range - 128) " +
        "ELSE ((doc_id * 13 + j.range * 89) % 257) - 128 END AS v " +
        "FROM d CROSS JOIN range(256) j) " +
        "SELECT doc_id, count(*)::BIGINT AS n_samples, " +
        "round(sum(v) / 32768.0 / 256 + 5e-10, 6) AS mean, " +
        "round(sqrt(sum(v * v) / (32768.0 * 32768.0) / 256) + 5e-10, 6) AS rms, " +
        "round(max(abs(v)) / 32768.0 + 5e-10, 6) AS peak " +
        "FROM s GROUP BY doc_id ORDER BY doc_id")))((s, dir) => {
      // REAL lossless-compressed-audio sample decode, oracle-checked END
      // TO END (the step past m9's golden constants): each planted FLAC
      // stream packs four 64-sample blocks — constant, verbatim, fixed-2,
      // and LPC subframes, Rice-coded residuals, CRC-8/CRC-16 verified —
      // whose samples are a closed form in (doc_id, j). The engine runs
      // the full bitstream decoder; DuckDB replays the stats from the
      // planting formula because LOSSLESS means decoded == planted.
      // Every stat is exact dyadic-rational math (|v| < 2^15, 256
      // samples), so both engines compute identical doubles.
      val planted = docs(s, dir).filter(col("doc_id") % 10 === 9)
        .select(col("doc_id"), Multimodal.flacPayload(col("doc_id")).as("payload"))
      Multimodal.withAudioStats(planted, "payload")
        .select(col("doc_id"),
          col("audio_stats.n_samples").as("n_samples"),
          round(col("audio_stats.mean") + lit(5e-10), 6).as("mean"),
          round(col("audio_stats.rms") + lit(5e-10), 6).as("rms"),
          round(col("audio_stats.peak") + lit(5e-10), 6).as("peak"))
        .orderBy("doc_id")
    }),
    Query("m10_video_frames", Some(
      // replay the AVI frame decode from the raw text bytes: the planted
      // DIB rasters are t48 verbatim (frame f = bytes f*24 .. f*24+23,
      // BGR at i % 3), so each channel mean is an avg over 8 bytes —
      // exact dyadic math, identical rounding in both engines. The
      // header fields are planting constants (4x2, 2 frames, 40 ms each).
      ("WITH base AS (SELECT doc_id, rpad(text, 48, 'x') AS t " +
        "FROM documents WHERE doc_id % 10 = 6), " +
        "px AS (SELECT doc_id, (t.i // 24)::BIGINT AS frame_id, t.i % 3 AS c, " +
        "unicode(substring(t, (t.i+1)::INT, 1)) AS v FROM base, range(48) t(i)) " +
        "SELECT doc_id, 2::BIGINT AS n_frames, 4::BIGINT AS width, " +
        "2::BIGINT AS height, 80.0 AS duration_ms, frame_id, " +
        "8::BIGINT AS n_pixels, " +
        "round(avg(CASE WHEN c = 2 THEN v END), 6) AS mean_r, " +
        "round(avg(CASE WHEN c = 1 THEN v END), 6) AS mean_g, " +
        "round(avg(CASE WHEN c = 0 THEN v END), 6) AS mean_b " +
        "FROM px GROUP BY doc_id, frame_id ORDER BY doc_id, frame_id")))((s, dir) => {
      // REAL video sample decode, oracle-checked end to end: plant a
      // minimal single-stream AVI whose uncompressed BI_RGB DIB frame
      // rasters are the doc text bytes (4x2, two frames — stride 12 is
      // unpadded, so text byte i IS raster byte i), container-parse the
      // header AND pixel-decode every frame in the engine, and let
      // DuckDB replay the per-frame channel means from the raw text.
      // DIB is BGR order: channel at text position i is BGR[i % 3].
      // All means are sums of 8 bytes / 8 — exact dyadic rationals, no
      // rounding nudge needed (the m5 class). MJPG (lossy) frames are
      // tolerance-specced in MultimodalSpec, not oracled (the m2 class).
      val planted = docs(s, dir).filter(col("doc_id") % 10 === 6)
        .withColumn("payload", Multimodal.aviDibPayload(col("text"), w = 4, h = 2, nFrames = 2))
      val meta = Multimodal.withVideoMeta(planted.select(col("doc_id"), col("payload")), "payload")
      Multimodal.videoFrames(meta, "payload")
        .select(col("doc_id"),
          col("video_meta.n_frames").cast("long").as("n_frames"),
          col("video_meta.width").cast("long").as("width"),
          col("video_meta.height").cast("long").as("height"),
          round(col("video_meta.duration_ms"), 6).as("duration_ms"),
          col("frame_id").cast("long").as("frame_id"),
          col("n_pixels"),
          round(col("mean_r"), 6).as("mean_r"),
          round(col("mean_g"), 6).as("mean_g"),
          round(col("mean_b"), 6).as("mean_b"))
        .orderBy("doc_id", "frame_id")
    }),
    Query("m5_audio_frames", Some(
      // replay the frame fold from the raw text bytes: LE16 pairs,
      // sign-extended, frame = i // 8; ZCR counts strict sign flips of
      // adjacent RAW samples within the frame (i % 8 <> 0 skips each
      // frame's first sample, whose predecessor is the previous frame)
      ("WITH base AS (SELECT doc_id, rpad(text, 64, 'x') AS t64 " +
        "FROM documents WHERE doc_id % 10 = 0), " +
        "raw AS (SELECT doc_id, t.i, unicode(substring(t64, (2*t.i+1)::INT, 1)) " +
        "+ 256*unicode(substring(t64, (2*t.i+2)::INT, 1)) AS vu FROM base, range(32) t(i)), " +
        "s AS (SELECT doc_id, i, CASE WHEN vu >= 32768 THEN vu - 65536 ELSE vu END AS v FROM raw), " +
        "w AS (SELECT doc_id, i, v, i // 8 AS f, " +
        "lag(v) OVER (PARTITION BY doc_id ORDER BY i) AS pv FROM s) " +
        "SELECT doc_id, f::BIGINT AS frame_id, count(*)::BIGINT AS n_samples, " +
        "round(sqrt(avg((v/32768.0)*(v/32768.0))), 6) AS rms, " +
        "sum(CASE WHEN i % 8 <> 0 AND pv * v < 0 THEN 1 ELSE 0 END)::BIGINT AS zcr " +
        "FROM w GROUP BY doc_id, f ORDER BY doc_id, frame_id")))((s, dir) => {
      // frame-level features over the REAL PCM decode: the planted WAVs
      // carry 32 samples whose bytes are a known transform of the doc
      // text, so every frame's RMS and zero-crossing count is
      // SQL-derivable. All the math is exact dyadic rationals (v^2/2^30
      // sums < 2^53) — both engines round the identical double, no
      // nudge needed.
      val hdr = lit(Multimodal.wavPcm16Header(dataBytes = 64))
      val planted = Multimodal.asBinaryPayload(docs(s, dir), "text")
        .filter(col("doc_id") % 10 === 0)
        .withColumn("payload",
          concat(hdr, substring(rpad(col("text"), 64, "x").cast("binary"), 1, 64)))
      Multimodal.audioFrames(planted.select(col("doc_id"), col("payload")), "payload",
          frameSize = 8)
        .select(col("doc_id"), col("frame_id").cast("long").as("frame_id"),
          col("n_samples").cast("long").as("n_samples"),
          round(col("rms"), 6).as("rms"), col("zcr").cast("long").as("zcr"))
        .orderBy("doc_id", "frame_id")
    }),
    Query("m11_flip_crop", Some(
      // replay flip-then-crop from the raw text bytes: the BMP family
      // works in STORED row order (decodeBmp24Pixels doc), so the crop
      // rows {1,2} are stored rows {1,2} and the mirrored crop columns
      // {0,1} read source columns {3,2} — the window is stored bytes
      // (y in {1,2}) x (x in {2,3}), channel c at y*12 + 3x + c
      // (1-based; c=3 is R in the BGR triple, as m4)
      ("WITH base AS (SELECT doc_id, rpad(text, 48, 'x') AS t " +
        "FROM documents WHERE doc_id % 10 = 2), " +
        "px AS (SELECT b.doc_id, " +
        "unicode(substring(b.t, ((1 + t.i//2)*12 + 3*(2 + t.i%2) + 3)::INT, 1)) AS r, " +
        "unicode(substring(b.t, ((1 + t.i//2)*12 + 3*(2 + t.i%2) + 2)::INT, 1)) AS g, " +
        "unicode(substring(b.t, ((1 + t.i//2)*12 + 3*(2 + t.i%2) + 1)::INT, 1)) AS bl " +
        "FROM base b, range(4) t(i)) " +
        "SELECT doc_id, 4::BIGINT AS n_pixels, round(avg(r), 6) AS mean_r, " +
        "round(avg(g), 6) AS mean_g, round(avg(bl), 6) AS mean_b " +
        "FROM px GROUP BY doc_id ORDER BY doc_id")))((s, dir) => {
      // augmentation pipeline, oracle-checked end to end: plant 4x4
      // BMPs from the doc text (the m4 pattern), mirror horizontally,
      // crop an ASYMMETRIC 2x2 window at (0,1) — the crop of the flip
      // reads source columns {3,2}, so a broken flip changes the
      // stats — and decode the cropped payload for channel means.
      // 4-pixel means are exact dyadic rationals (the m4/m5 class).
      val bmpHdr = lit(Multimodal.bmp24Header(4, 4))
      val planted = Multimodal.asBinaryPayload(docs(s, dir), "text")
        .filter(col("doc_id") % 10 === 2)
        .withColumn("payload",
          concat(bmpHdr, substring(rpad(col("text"), 48, "x").cast("binary"), 1, 48)))
      val flipped = Multimodal.flipBmp(
        planted.select(col("doc_id"), col("payload")), "payload")
        .drop("payload").withColumnRenamed("flipped", "payload")
      val cropped = Multimodal.cropBmp(flipped, "payload", x0 = 0, y0 = 1, cw = 2, ch = 2)
        .drop("payload").withColumnRenamed("cropped", "payload")
      Multimodal.withImageStats(cropped, "payload")
        .select(col("doc_id"),
          col("image_stats.n_pixels").as("n_pixels"),
          round(col("image_stats.mean_r"), 6).as("mean_r"),
          round(col("image_stats.mean_g"), 6).as("mean_g"),
          round(col("image_stats.mean_b"), 6).as("mean_b"))
        .orderBy("doc_id")
    }),
    Query("m12_audio_decimate", Some(
      // replay decimate-by-4 from the raw text bytes: samples i in
      // {0,4,...,28} as sign-extended LE16 pairs (the m5 replay);
      // mean/peak are exact dyadic rationals, rms rounds the identical
      // double in both engines; the rewritten rate is the 8000/4 const
      ("WITH base AS (SELECT doc_id, rpad(text, 64, 'x') AS t64 " +
        "FROM documents WHERE doc_id % 10 = 4), " +
        "raw AS (SELECT doc_id, unicode(substring(t64, (8*t.i+1)::INT, 1)) " +
        "+ 256*unicode(substring(t64, (8*t.i+2)::INT, 1)) AS vu FROM base, range(8) t(i)), " +
        "sgn AS (SELECT doc_id, CASE WHEN vu >= 32768 THEN vu - 65536 ELSE vu END AS v FROM raw) " +
        "SELECT doc_id, 2000::BIGINT AS rate, count(*)::BIGINT AS n_samples, " +
        "round(sum(v)/count(*)/32768.0 + 5e-10, 6) AS mean, " +
        "round(sqrt(avg((v/32768.0)*(v/32768.0))), 6) AS rms, " +
        "round(max(abs(v))/32768.0, 6) AS peak " +
        "FROM sgn GROUP BY doc_id ORDER BY doc_id")))((s, dir) => {
      // audio augmentation, oracle-checked end to end: plant 32-sample
      // PCM-16 WAVs from the doc text (the m5 pattern), decimate by 4
      // through the real header-rewriting transform, then decode the
      // DECIMATED payload for stats AND read its rewritten sample rate
      // back off the fmt header (2000 = 8000/4) via withMediaMeta.
      val hdr = lit(Multimodal.wavPcm16Header(dataBytes = 64))
      val planted = Multimodal.asBinaryPayload(docs(s, dir), "text")
        .filter(col("doc_id") % 10 === 4)
        .withColumn("payload",
          concat(hdr, substring(rpad(col("text"), 64, "x").cast("binary"), 1, 64)))
      val dec = Multimodal.decimateWav(
          planted.select(col("doc_id"), col("payload")), "payload", factor = 4)
        .drop("payload").withColumnRenamed("decimated", "payload")
      Multimodal.withAudioStats(Multimodal.withMediaMeta(dec, "payload"), "payload")
        .select(col("doc_id"),
          col("media_meta.width").cast("long").as("rate"),
          col("audio_stats.n_samples").as("n_samples"),
          round(col("audio_stats.mean") + lit(5e-10), 6).as("mean"),
          round(col("audio_stats.rms"), 6).as("rms"),
          round(col("audio_stats.peak"), 6).as("peak"))
        .orderBy("doc_id")
    }),
    Query("m4_resize", Some({
      // replay the 4x4 -> 2x2 box resample from the raw text bytes: the
      // planted BMP is t48 as BGR triples at stride 12, output pixel
      // (i%2, i//2) averages its 2x2 source block per channel with exact
      // quarter weights, rounded half-up exactly like the Scala decoder
      def byt(x: String, y: String, c: Int) =
        s"unicode(substring(b.t, (($y)*12 + 3*($x) + $c)::INT, 1))"
      def outPx(c: Int) = {
        val p1 = byt("2*(o.i%2)", "2*(o.i//2)", c)
        val p2 = byt("2*(o.i%2)+1", "2*(o.i//2)", c)
        val p3 = byt("2*(o.i%2)", "2*(o.i//2)+1", c)
        val p4 = byt("2*(o.i%2)+1", "2*(o.i//2)+1", c)
        s"round(($p1 + $p2 + $p3 + $p4)/4.0)"
      }
      "WITH base AS (SELECT doc_id, rpad(text, 48, 'x') AS t " +
        "FROM documents WHERE doc_id % 10 = 5), " +
        "px AS (SELECT b.doc_id, " + outPx(3) + " AS r, " + outPx(2) + " AS g, " +
        outPx(1) + " AS bl FROM base b, range(4) o(i)) " +
        "SELECT doc_id, count(*)::BIGINT AS n_pixels, round(avg(r), 6) AS mean_r, " +
        "round(avg(g), 6) AS mean_g, round(avg(bl), 6) AS mean_b " +
        "FROM px GROUP BY doc_id ORDER BY doc_id"
    }))((s, dir) => {
      // REAL resize pipeline, oracle-checked end to end: plant 4x4 BMPs
      // from the doc text (as m2b), box-resample to 2x2 through
      // decode -> area-average -> re-encode, then decode the RESIZED
      // payload again for its stats. 4x4 -> 2x2 has exact quarter
      // weights, so each output byte is round(sum/4.0) — byte math
      // DuckDB replays from the raw text (both engines round half-up on
      // the exact .25-grid doubles).
      val bmpHdr = lit(Multimodal.bmp24Header(4, 4))
      val planted = Multimodal.asBinaryPayload(docs(s, dir), "text")
        .filter(col("doc_id") % 10 === 5)
        .withColumn("payload",
          concat(bmpHdr, substring(rpad(col("text"), 48, "x").cast("binary"), 1, 48)))
      Multimodal.withImageStats(
          Multimodal.resizeBmp(planted, "payload", 2, 2).drop("payload")
            .withColumnRenamed("resized", "payload"), "payload")
        .select(col("doc_id"),
          col("image_stats.n_pixels").as("n_pixels"),
          round(col("image_stats.mean_r"), 6).as("mean_r"),
          round(col("image_stats.mean_g"), 6).as("mean_g"),
          round(col("image_stats.mean_b"), 6).as("mean_b"))
        .orderBy("doc_id")
    }),
    Query("m15_otsu_threshold", Some(
      // integer-luma pixels from the raw text bytes, the same 256-t
      // sigma walk, argmax with the same smallest-t tie
      ("WITH base AS (SELECT doc_id, rpad(text, 48, 'x') AS t " +
        "FROM documents WHERE doc_id % 7 = 3), " +
        "px AS (SELECT b.doc_id, (unicode(substring(b.t, (o.i * 3 + 1)::INT, 1)) + " +
        "unicode(substring(b.t, (o.i * 3 + 2)::INT, 1)) + " +
        "unicode(substring(b.t, (o.i * 3 + 3)::INT, 1))) // 3 AS gray " +
        "FROM base b, range(16) o(i)), " +
        "h AS (SELECT doc_id, gray, count(*)::BIGINT AS c FROM px GROUP BY 1, 2), " +
        "cu AS (SELECT h.doc_id, r.range AS t, " +
        "CAST(coalesce(sum(CASE WHEN h.gray <= r.range THEN h.c END), 0) AS BIGINT) AS n0, " +
        "CAST(coalesce(sum(CASE WHEN h.gray <= r.range THEN h.gray * h.c END), 0) AS BIGINT) AS s0, " +
        "CAST(sum(h.c) AS BIGINT) AS n, CAST(sum(h.gray * h.c) AS BIGINT) AS st " +
        "FROM h, range(256) r GROUP BY 1, 2), " +
        "sg AS (SELECT doc_id, t, n0, s0, n, st, " +
        "CASE WHEN n0 > 0 AND n - n0 > 0 THEN (n0::DOUBLE / n) * ((n - n0)::DOUBLE / n) * " +
        "(s0::DOUBLE / n0 - (st - s0)::DOUBLE / (n - n0)) * " +
        "(s0::DOUBLE / n0 - (st - s0)::DOUBLE / (n - n0)) END AS sigma FROM cu), " +
        "pick AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY sigma DESC, t) AS rn " +
        "FROM sg WHERE sigma IS NOT NULL) " +
        "SELECT doc_id, n AS n_pixels, t::INT AS threshold, n0 AS n_below, " +
        "round(s0::DOUBLE / n0 + 5e-10, 6) AS mean_below, " +
        "round((st - s0)::DOUBLE / (n - n0) + 5e-10, 6) AS mean_above, " +
        "round(sigma + 5e-10, 6) AS between_var " +
        "FROM pick WHERE rn = 1 ORDER BY doc_id")))((s, dir) => {
      // REAL binarization over planted 4x4 BMPs (the m4 discipline):
      // decode -> integer-luma histogram -> the full 256-candidate
      // between-class-variance walk, ties to the smallest t — every
      // step exact integer/double arithmetic the oracle replays from
      // the raw text bytes; constant images (no valid split) drop out
      val bmpHdr = lit(Multimodal.bmp24Header(4, 4))
      val planted = Multimodal.asBinaryPayload(docs(s, dir), "text")
        .filter(col("doc_id") % 7 === 3)
        .withColumn("payload",
          concat(bmpHdr, substring(rpad(col("text"), 48, "x").cast("binary"), 1, 48)))
      Multimodal.withOtsuStats(planted, "payload")
        .filter(col("otsu_stats").isNotNull)
        .select(col("doc_id"),
          col("otsu_stats.n_pixels").as("n_pixels"),
          col("otsu_stats.threshold").as("threshold"),
          col("otsu_stats.n_below").as("n_below"),
          round(col("otsu_stats.mean_below") + lit(5e-10), 6).as("mean_below"),
          round(col("otsu_stats.mean_above") + lit(5e-10), 6).as("mean_above"),
          round(col("otsu_stats.between_var") + lit(5e-10), 6).as("between_var"))
        .orderBy("doc_id")
    }),
    Query("m3_frame_sample", Some(
      ("SELECT doc_id, ((greatest(octet_length(encode(text)) - 1, 0) // 64) + 1)::BIGINT AS n_frames " +
        "FROM documents ORDER BY doc_id")))((s, dir) =>
      Multimodal.sampleFrames(
          Multimodal.asBinaryPayload(docs(s, dir), "text"), "payload", stride = 64)
        .groupBy("doc_id").agg(count(lit(1)).as("n_frames"))
        .orderBy("doc_id")),

    // ---- perceptual image hashing --------------------------------------
    Query("m6_phash_neardup", Some({
      // replay the aHash byte math from the raw text: gray(i) = sum of
      // the 3 bytes of pixel i (stride 24 = 3*8, no row padding, and
      // r+g+b is storage-order invariant), bit i set iff 64*gray > total
      // (exact integers), quarters packed 16 bits each; pairs are the
      // BRUTE-FORCE a<b join — equal to the banded Spark join by the
      // pigeonhole exactness at maxHamming 3 while every quarter bucket
      // has <= 256 rows (the Spark side's maxBucketSize cap)
      val quarter = (q: Int) =>
        s"sum(CASE WHEN gv.i // 16 = $q AND 64 * gv.g > tot.total " +
          s"THEN (1 << (gv.i % 16)::INT) ELSE 0 END)::INT AS q$q"
      val ham = (0 to 3).map(i => s"bit_count(xor(a.q$i, b.q$i))").mkString(" + ")
      "WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 5), " +
        "imgs AS (SELECT doc_id * 2 AS img_id, rpad(text, 192, 'x') AS t FROM base " +
        "UNION ALL SELECT doc_id * 2 + 1, " +
        "rpad('Z' || substring(text, 2, 191), 192, 'x') FROM base), " +
        "gv AS (SELECT img_id, i, " +
        "unicode(substring(t, (3*i+1)::INT, 1)) + unicode(substring(t, (3*i+2)::INT, 1)) " +
        "+ unicode(substring(t, (3*i+3)::INT, 1)) AS g FROM imgs, range(64) r(i)), " +
        "tot AS (SELECT img_id, sum(g) AS total FROM gv GROUP BY img_id), " +
        s"q AS (SELECT gv.img_id, ${(0 to 3).map(quarter).mkString(", ")} " +
        "FROM gv JOIN tot ON tot.img_id = gv.img_id GROUP BY gv.img_id) " +
        s"SELECT a.img_id AS id_a, b.img_id AS id_b, ($ham)::BIGINT AS hamming " +
        s"FROM q a JOIN q b ON a.img_id < b.img_id WHERE ($ham) <= 3 " +
        "ORDER BY id_a, id_b"
    }))((s, dir) => {
      // near-duplicate IMAGE detection by perceptual hash: every %10==5
      // doc plants TWO 8x8 BMPs — its own bytes (img_id 2i) and a
      // one-character-perturbed variant (img_id 2i+1, first byte 'Z') —
      // then the full pipeline runs: decode -> 8x8 box resample (exact
      // identity here) -> integer aHash -> banded hamming pairs. The
      // variant differs in ONE pixel's gray (plus the mean shift), so
      // most (2i, 2i+1) pairs land within hamming <= 3; the oracle
      // replays the byte math and brute-forces all pairs — equal by the
      // pigeonhole exactness of quarter banding at maxHamming 3, which
      // holds only while every quarter bucket has <= 256 rows (aHashPairs'
      // default maxBucketSize skips larger buckets; true at gate scale).
      val bmpHdr = lit(Multimodal.bmp24Header(8, 8))
      val base = docs(s, dir).filter(col("doc_id") % 10 === 5)
      val variants = base.select(explode(array(
          struct((col("doc_id") * 2).as("img_id"), col("text").as("t")),
          struct((col("doc_id") * 2 + 1).as("img_id"),
            concat(lit("Z"), substring(col("text"), 2, 191)).as("t")))).as("v"))
        .select(col("v.img_id").as("img_id"),
          concat(bmpHdr,
            substring(rpad(col("v.t"), 192, "x").cast("binary"), 1, 192)).as("payload"))
      Multimodal.aHashPairs(
          Multimodal.withImageAHash(variants, "payload"), "img_id", "ahash")
        .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))
        .orderBy("id_a", "id_b")
    }),

    Query("m7_audio_fingerprint", Some({
      // LE16 decode (m5's byte replay) + delta bits + quarter packing
      // (m6's), brute-force pairs == banded pairs by pigeonhole while
      // every quarter bucket has <= 256 rows (the maxBucketSize cap)
      val quarter = (q: Int) =>
        s"sum(CASE WHEN (b.i - 1) // 16 = $q THEN b.bit * (1 << ((b.i - 1) % 16)::INT) ELSE 0 END)::INT AS q$q"
      val ham = (0 to 3).map(i => s"bit_count(xor(a.q$i, c.q$i))").mkString(" + ")
      "WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0), " +
        "clips AS (SELECT doc_id * 2 AS clip_id, rpad(text, 130, 'x') AS t FROM base " +
        "UNION ALL SELECT doc_id * 2 + 1, " +
        "rpad(substring(text, 1, 10) || 'Z' || substring(text, 12), 130, 'x') FROM base), " +
        "raw AS (SELECT clip_id, r.i, unicode(substring(t, (2*r.i+1)::INT, 1)) " +
        "+ 256 * unicode(substring(t, (2*r.i+2)::INT, 1)) AS vu FROM clips, range(65) r(i)), " +
        "s AS (SELECT clip_id, i, CASE WHEN vu >= 32768 THEN vu - 65536 ELSE vu END AS v FROM raw), " +
        "b AS (SELECT clip_id, i, CASE WHEN v > lag(v) OVER (PARTITION BY clip_id ORDER BY i) " +
        "THEN 1 ELSE 0 END AS bit FROM s), " +
        s"q AS (SELECT b.clip_id, ${(0 to 3).map(quarter).mkString(", ")} " +
        "FROM b WHERE b.i >= 1 GROUP BY b.clip_id) " +
        s"SELECT a.clip_id AS id_a, c.clip_id AS id_b, ($ham)::BIGINT AS hamming " +
        s"FROM q a JOIN q c ON a.clip_id < c.clip_id WHERE ($ham) <= 3 " +
        "ORDER BY id_a, id_b"
    }))((s, dir) => {
      // audio near-dup detection over the REAL PCM decode: 65-sample
      // planted WAVs (the m5 byte transform), delta-contour fingerprint
      // (bit = sample louder than its predecessor — pure integer
      // comparisons), banded hamming pairs via the quarter-generic
      // aHashPairs. Each %10==0 doc plants an original and a
      // one-byte-perturbed variant (sample 5's low byte), which flips
      // at most delta bits 4 and 5 — every planted pair lands within
      // hamming <= 2 by construction; the oracle brute-forces all pairs,
      // equal to the banded join while every quarter bucket has <= 256
      // rows (aHashPairs' default maxBucketSize cap).
      val hdr = lit(Multimodal.wavPcm16Header(dataBytes = 130))
      val base = docs(s, dir).filter(col("doc_id") % 10 === 0)
      val variants = base.select(explode(array(
          struct((col("doc_id") * 2).as("clip_id"), col("text").as("t")),
          struct((col("doc_id") * 2 + 1).as("clip_id"),
            concat(substring(col("text"), 1, 10), lit("Z"),
              substring(col("text"), 12, 1000)).as("t")))).as("v"))
        .select(col("v.clip_id").as("clip_id"),
          concat(hdr,
            substring(rpad(col("v.t"), 130, "x").cast("binary"), 1, 130)).as("payload"))
      Multimodal.aHashPairs(
          Multimodal.withAudioFingerprint(variants, "payload"), "clip_id", "afp")
        .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))
        .orderBy("id_a", "id_b")
    }),

    Query("m8_mp3_meta", Some(
      // closed-form replay of the planting parameters (no byte math):
      // n_frames = 1 + id%4, bitrate = MPEG-1 L3 table[1 + id%14],
      // rate = [44100,48000,32000][id%3], 1152 samples per frame
      ("WITH m AS (SELECT doc_id, (1 + doc_id % 4)::BIGINT AS n_frames, " +
        "list_extract([44100,48000,32000], (doc_id % 3)::INT + 1)::BIGINT AS sample_rate, " +
        "list_extract([32,40,48,56,64,80,96,112,128,160,192,224,256,320], (1 + doc_id % 14)::INT)::BIGINT AS kbps " +
        "FROM documents WHERE doc_id % 10 = 3) " +
        "SELECT doc_id, n_frames, sample_rate, kbps AS bitrate_min_kbps, " +
        "kbps AS bitrate_max_kbps, (n_frames * 1152)::BIGINT AS n_samples, " +
        "ROUND((n_frames * 1152)::DOUBLE / sample_rate + 5e-10, 6) AS duration_s " +
        "FROM m ORDER BY doc_id")))((s, dir) => {
      // MPEG-1 Layer III stream metadata over the REAL frame-header
      // walk: every %10==3 doc plants a deterministic frame chain whose
      // count / bitrate / sample rate are closed-form functions of
      // doc_id, so the oracle derives every decoded field without
      // replaying any byte math. Sample-level decode of compressed
      // audio stays the documented stub — headers carry everything the
      // curation gate needs (duration, CBR check, rate buckets).
      val planted = docs(s, dir).filter(col("doc_id") % 10 === 3)
        .select(col("doc_id"), Multimodal.mp3FramesPayload(
          (col("doc_id") % 4 + 1).cast("int"),
          (col("doc_id") % 14 + 1).cast("int"),
          (col("doc_id") % 3).cast("int")).as("payload"))
      Multimodal.withMp3Meta(planted, "payload")
        .select(col("doc_id"),
          col("mp3_meta.n_frames").cast("long").as("n_frames"),
          col("mp3_meta.sample_rate").cast("long").as("sample_rate"),
          col("mp3_meta.bitrate_min_kbps").cast("long").as("bitrate_min_kbps"),
          col("mp3_meta.bitrate_max_kbps").cast("long").as("bitrate_max_kbps"),
          col("mp3_meta.n_samples").as("n_samples"),
          round(col("mp3_meta.duration_s") + lit(5e-10), 6).as("duration_s"))
        .orderBy("doc_id")
    }),
    Query("m13_gif_meta", Some(
      // closed-form replay of the planting parameters: dims from the
      // id residues, 2^(1 + id%3) global colors, one GCE per frame so
      // n_ext = n_frames and duration = n_frames * delay
      ("SELECT doc_id, 'GIF89a' AS version, " +
        "(doc_id % 64 + 16)::BIGINT AS width, " +
        "(doc_id % 48 + 8)::BIGINT AS height, " +
        "(1::BIGINT << ((doc_id % 3)::INT + 1))::BIGINT AS gct_colors, " +
        "(doc_id % 5 + 1)::BIGINT AS n_frames, " +
        "(doc_id % 5 + 1)::BIGINT AS n_ext, " +
        "((doc_id % 5 + 1) * (doc_id % 10 + 1))::BIGINT AS duration_cs " +
        "FROM documents WHERE doc_id % 10 = 4 ORDER BY doc_id")))((s, dir) => {
      // animated-GIF container metadata over the REAL block walk: every
      // %10==4 doc plants a spec-valid GIF89a whose dimensions / frame
      // count / color table / total delay are closed-form functions of
      // doc_id — the oracle derives every decoded field without
      // replaying any byte math (the m8 planted-stage pattern). Pixel
      // (LZW) decode stays the documented stub; the container carries
      // everything a media-curation gate filters on.
      val planted = docs(s, dir).filter(col("doc_id") % 10 === 4)
        .select(col("doc_id"), Multimodal.gifPayload(
          (col("doc_id") % 64 + 16).cast("int"),
          (col("doc_id") % 48 + 8).cast("int"),
          (col("doc_id") % 5 + 1).cast("int"),
          (col("doc_id") % 3 + 1).cast("int"),
          (col("doc_id") % 10 + 1).cast("int")).as("payload"))
      Multimodal.withGifMeta(planted, "payload")
        .select(col("doc_id"), col("gif_meta.version").as("version"),
          col("gif_meta.width").cast("long").as("width"),
          col("gif_meta.height").cast("long").as("height"),
          col("gif_meta.gct_colors").cast("long").as("gct_colors"),
          col("gif_meta.n_frames").cast("long").as("n_frames"),
          col("gif_meta.n_ext").cast("long").as("n_ext"),
          col("gif_meta.duration_cs").as("duration_cs"))
        .orderBy("doc_id")
    }),
    Query("m14_gif_pixels", Some(
      // closed-form replay of the planted rasters: frame f pixel k is
      // palette index (f + k) mod m over n = w*h pixels, so residue j
      // appears n//m (+1 inside the partial cycle) times and the
      // channel means are exact residue-count sums over palette entry
      // (j, 7j mod 256, 13j mod 256) — no LZW replay needed; the Scala
      // side earns the match by actually decompressing the bit stream
      ("WITH d AS (SELECT doc_id, (doc_id % 24 + 8) AS w, (doc_id % 12 + 4) AS h, " +
        "(doc_id % 4 + 1) AS nf, (1::BIGINT << ((doc_id % 3)::INT + 1))::BIGINT AS m " +
        "FROM documents WHERE doc_id % 10 = 4), " +
        "f AS (SELECT d.*, g.f FROM d JOIN (SELECT unnest(range(0, 4)) AS f) g ON g.f < d.nf), " +
        "j AS (SELECT f.*, r.j FROM f JOIN (SELECT unnest(range(0, 8)) AS j) r ON r.j < f.m), " +
        "c AS (SELECT doc_id, f, w * h AS n, j, " +
        "(w * h) // m + CASE WHEN ((j - f) % m + m) % m < (w * h) % m THEN 1 ELSE 0 END AS cnt " +
        "FROM j) " +
        "SELECT doc_id, f::BIGINT AS frame_id, CAST(max(n) AS BIGINT) AS n_pixels, " +
        "round(CAST(sum(cnt * j) AS DOUBLE) / max(n) + 5e-10, 6) AS mean_r, " +
        "round(CAST(sum(cnt * ((j * 7) % 256)) AS DOUBLE) / max(n) + 5e-10, 6) AS mean_g, " +
        "round(CAST(sum(cnt * ((j * 13) % 256)) AS DOUBLE) / max(n) + 5e-10, 6) AS mean_b " +
        "FROM c GROUP BY doc_id, f ORDER BY doc_id, frame_id")))((s, dir) => {
      // REAL GIF pixel decode (round 12 — the LZW stub closed): every
      // %10==4 doc plants a GIF89a whose frames carry genuinely
      // LZW-compressed rasters of the (f + k) mod m index pattern; the
      // engine walks the container, decompresses each frame's variable
      // width bit stream, folds palette-channel means — and the oracle
      // derives the same means closed-form from the residue counts.
      // Smaller dims than m13: pixel work scales with w*h*frames.
      val planted = docs(s, dir).filter(col("doc_id") % 10 === 4)
        .select(col("doc_id"), Multimodal.gifPayload(
          (col("doc_id") % 24 + 8).cast("int"),
          (col("doc_id") % 12 + 4).cast("int"),
          (col("doc_id") % 4 + 1).cast("int"),
          (col("doc_id") % 3 + 1).cast("int"),
          lit(2)).as("payload"))
      Multimodal.gifFrames(planted, "payload")
        .select(col("doc_id"), col("frame_id").cast("long").as("frame_id"),
          col("n_pixels"),
          round(col("mean_r") + lit(5e-10), 6).as("mean_r"),
          round(col("mean_g") + lit(5e-10), 6).as("mean_g"),
          round(col("mean_b") + lit(5e-10), 6).as("mean_b"))
        .orderBy("doc_id", "frame_id")
    }),
  )
}
