package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: treat image/audio/video payloads as opaque
  * `binary` columns with typed metadata, and run decode / feature-extract
  * steps as partition-wise batch transforms.
  *
  * The Spark-side shape is real and tested — binary columns, metadata
  * structs, `mapPartitions` batching (the Scala analogue of Python's
  * `mapInPandas`: one iterator per partition so a decoder can amortize
  * model/codec setup across rows). The actual media decoding is STUBBED
  * (this container has no image/audio codecs): `decodeStub` derives
  * deterministic fake dimensions/features from the bytes. Swap
  * `decodeStub` for a real codec without touching any of the plumbing.
  */
object Multimodal {

  val mediaMetaType: StructType = StructType(Seq(
    StructField("format", StringType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("n_bytes", LongType)))

  /** Wrap a string column as a fake binary media payload (for testdata,
    * which ships no real media). */
  def asBinaryPayload(df: DataFrame, srcCol: String, out: String = "payload"): DataFrame =
    df.withColumn(out, col(srcCol).cast(BinaryType))

  /** Header-level media decode: REAL container parsing for PNG (IHDR),
    * JPEG (SOF frame segments), and WAV (fmt chunk: sample-rate/channels
    * mapped onto width/height) — pure byte reading, no codec library.
    * Unknown payloads fall back to a deterministic pseudo-decode
    * (content-hash-derived dimensions, stable for testing). Pixel-level
    * decoding stays stubbed: swap [[withFeatures]]' extractor for a real
    * model without touching the plumbing. */
  private[ops] def decodeStub(bytes: Array[Byte]): (String, Int, Int) = {
    def u8(i: Int): Int = bytes(i) & 0xFF
    def be32(i: Int): Int = (u8(i) << 24) | (u8(i + 1) << 16) | (u8(i + 2) << 8) | u8(i + 3)
    def be16(i: Int): Int = (u8(i) << 8) | u8(i + 1)
    def le32(i: Int): Int = u8(i) | (u8(i + 1) << 8) | (u8(i + 2) << 16) | (u8(i + 3) << 24)
    def le16(i: Int): Int = u8(i) | (u8(i + 1) << 8)

    if (bytes == null || bytes.isEmpty) ("empty", 0, 0)
    // PNG: 8-byte signature, then IHDR chunk: width/height big-endian at 16/20
    else if (bytes.length >= 24 && u8(0) == 0x89 && u8(1) == 'P' && u8(2) == 'N' && u8(3) == 'G')
      ("png", be32(16), be32(20))
    // JPEG: walk marker segments to the first SOFn (C0-CF except C4/C8/CC)
    else if (bytes.length >= 4 && u8(0) == 0xFF && u8(1) == 0xD8) {
      var i = 2
      var res: Option[(Int, Int)] = None
      while (res.isEmpty && i + 9 < bytes.length && u8(i) == 0xFF) {
        val marker = u8(i + 1)
        if (marker >= 0xC0 && marker <= 0xCF && marker != 0xC4 && marker != 0xC8 && marker != 0xCC)
          res = Some((be16(i + 7), be16(i + 5))) // (width, height)
        else if (marker == 0xD8 || (marker >= 0xD0 && marker <= 0xD9)) i += 2 // bare markers
        else i += 2 + be16(i + 2) // skip segment by length
      }
      res.map(wh => ("jpeg", wh._1, wh._2)).getOrElse(("jpeg", 0, 0))
    }
    // WAV: RIFF....WAVE, fmt chunk at 12: channels @22 (LE16), rate @24 (LE32)
    else if (bytes.length >= 28 && u8(0) == 'R' && u8(1) == 'I' && u8(2) == 'F' && u8(3) == 'F'
      && u8(8) == 'W' && u8(9) == 'A' && u8(10) == 'V' && u8(11) == 'E')
      ("wav", le32(24), le16(22)) // width = sample rate, height = channels
    // BMP: 'BM' + BITMAPINFOHEADER (DIB size 40 LE32 @14 — the NUL bytes
    // that encoding requires cannot occur in UTF-8 text payloads, so a
    // document spelling "BM..." can never misfire this branch)
    else if (bytes.length >= 54 && u8(0) == 'B' && u8(1) == 'M' && le32(14) == 40)
      ("bmp", le32(18), math.abs(le32(22)))
    else {
      var h = 1125899906842597L
      var i = 0
      while (i < math.min(bytes.length, 64)) { h = 31 * h + bytes(i); i += 1 }
      ("raw", 64 + math.floorMod(h, 1024).toInt, 64 + math.floorMod(h >> 10, 1024).toInt)
    }
  }

  /** Partition-wise decode + metadata extraction over a binary column.
    * `mapPartitions` (not a per-row UDF) so a real decoder can initialize
    * once per partition and process rows as a batch — the same execution
    * shape `mapInPandas` gives PySpark. Output schema: input columns +
    * `media_meta` struct. */
  def withMediaMeta(df: DataFrame, payloadCol: String): DataFrame = {
    val inSchema = df.schema
    val outSchema = inSchema.add(StructField("media_meta", mediaMetaType))
    val payloadIdx = inSchema.fieldIndex(payloadCol)
    val enc = RowEncoder.encoderFor(outSchema)
    df.mapPartitions { rows =>
      // per-partition init happens here (codec/model handle in real impl)
      rows.map { r =>
        val bytes = r.getAs[Array[Byte]](payloadIdx)
        val (fmt, w, h) = decodeStub(bytes)
        val nb: Long = if (bytes == null) 0L else bytes.length.toLong
        Row.fromSeq(r.toSeq :+ Row(fmt, w, h, nb))
      }
    }(enc)
  }

  val audioStatsType: StructType = StructType(Seq(
    StructField("n_samples", LongType),
    StructField("mean", DoubleType),
    StructField("rms", DoubleType),
    StructField("peak", DoubleType)))

  /** REAL 16-bit PCM WAV decode — no codec library, just the RIFF spec:
    * walk the chunk list to `fmt ` (require audio format 1 = PCM, 16 bits
    * per sample) and `data`, then decode the little-endian signed
    * samples normalized to [-1, 1) and fold sample statistics
    * (n, mean, RMS, |peak|). Chunk sizes are word-aligned per RIFF; a
    * truncated `data` chunk decodes the bytes actually present (crawl
    * payloads are routinely cut off — better real stats over the prefix
    * than a null). Returns None for anything that is not a PCM-16 WAV —
    * those formats (compressed audio, images) remain the documented
    * stub. */
  /** Shared RIFF chunk walk: locate the PCM-16 sample range. Returns
    * (dataOffset, nSamples) — the single definition both the whole-file
    * stats fold and the frame-level fold build on, so the two decode
    * paths cannot drift on header semantics. */
  private[ops] def wavPcm16DataRange(bytes: Array[Byte]): Option[(Int, Int)] = {
    if (bytes == null || bytes.length < 44) return None
    def u8(i: Int): Int = bytes(i) & 0xFF
    def le16(i: Int): Int = u8(i) | (u8(i + 1) << 8)
    def le32(i: Int): Long = u8(i).toLong | (u8(i + 1).toLong << 8) |
      (u8(i + 2).toLong << 16) | (u8(i + 3).toLong << 24)
    def tag(i: Int): String = new String(bytes, i, 4, "US-ASCII")
    if (tag(0) != "RIFF" || tag(8) != "WAVE") return None
    var i = 12
    var fmtOk = false
    var dataOff = -1
    var dataLen = 0L
    var walking = true
    while (walking && i + 8 <= bytes.length && (!fmtOk || dataOff < 0)) {
      val id = tag(i)
      val sz = le32(i + 4) // unsigned 32-bit, as Long
      if (id == "fmt " && i + 8 + 16 <= bytes.length)
        fmtOk = le16(i + 8) == 1 && le16(i + 8 + 14) == 16
      else if (id == "data" && dataOff < 0) { dataOff = i + 8; dataLen = sz }
      // advance in Long math: a corrupt size must end the walk, not wrap
      val next = i.toLong + 8L + sz + (sz & 1L)
      if (next <= i || next > Int.MaxValue) walking = false else i = next.toInt
    }
    if (!fmtOk || dataOff < 0) None
    else Some((dataOff,
      (math.min(dataLen, (bytes.length - dataOff).toLong) / 2).toInt))
  }

  /** The fmt chunk's sample rate, walking chunks like
    * [[wavPcm16DataRange]] (junk chunks before fmt are legal). */
  private[ops] def wavSampleRate(bytes: Array[Byte]): Option[Int] = {
    if (bytes == null || bytes.length < 44) return None
    def u8(i: Int): Int = bytes(i) & 0xFF
    def le32(i: Int): Long = u8(i).toLong | (u8(i + 1).toLong << 8) |
      (u8(i + 2).toLong << 16) | (u8(i + 3).toLong << 24)
    def tag(i: Int): String = new String(bytes, i, 4, "US-ASCII")
    if (tag(0) != "RIFF" || tag(8) != "WAVE") return None
    var i = 12
    while (i + 8 <= bytes.length) {
      val sz = le32(i + 4)
      if (tag(i) == "fmt " && i + 8 + 8 <= bytes.length)
        return Some(le32(i + 8 + 4).toInt)
      val next = i.toLong + 8L + sz + (sz & 1L)
      if (next <= i || next > Int.MaxValue) return None
      i = next.toInt
    }
    None
  }

  /** Integer-factor decimation of a PCM-16 WAV: keep every `factor`-th
    * sample and emit a REAL WAV at `rate / factor` — the exact-transform
    * augmentation complementing [[audioFrames]]' features (plain
    * sample-drop decimation, no anti-alias filter; byte-exact, which is
    * what lets the m12 oracle replay it). Null for non-PCM-16 payloads.
    * Same per-row `mapPartitions` shape as the BMP transform family. */
  def decimateWav(df: DataFrame, payloadCol: String, factor: Int,
                  outCol: String = "decimated"): DataFrame = {
    require(factor >= 2, s"factor must be >= 2, got $factor")
    val inSchema = df.schema
    val outSchema = inSchema.add(StructField(outCol, BinaryType))
    val payloadIdx = inSchema.fieldIndex(payloadCol)
    val enc = RowEncoder.encoderFor(outSchema)
    df.mapPartitions { rows =>
      rows.map { r =>
        val bytes = r.getAs[Array[Byte]](payloadIdx)
        val out = wavPcm16DataRange(bytes).flatMap { case (dataOff, nSamples) =>
          wavSampleRate(bytes).map { rate =>
            val outN = if (nSamples == 0) 0 else (nSamples + factor - 1) / factor
            val data = new Array[Byte](outN * 2)
            var i = 0; var j = 0
            while (i < nSamples) {
              data(2 * j) = bytes(dataOff + 2 * i)
              data(2 * j + 1) = bytes(dataOff + 2 * i + 1)
              j += 1; i += factor
            }
            wavPcm16Header(outN * 2, math.max(1, rate / factor)) ++ data
          }
        }.orNull
        Row.fromSeq(r.toSeq :+ out)
      }
    }(enc)
  }

  private[ops] def decodeWavPcm16(bytes: Array[Byte]): Option[(Long, Double, Double, Double)] =
    wavPcm16DataRange(bytes).map { case (dataOff, n) =>
      def u8(i: Int): Int = bytes(i) & 0xFF
      def le16(i: Int): Int = u8(i) | (u8(i + 1) << 8)
      var sum = 0.0; var sq = 0.0; var peak = 0.0
      var j = 0
      while (j < n) {
        val s = le16(dataOff + 2 * j).toShort.toDouble / 32768.0
        sum += s; sq += s * s
        val a = math.abs(s); if (a > peak) peak = a
        j += 1
      }
      if (n == 0) (0L, 0.0, 0.0, 0.0)
      else (n.toLong, sum / n, math.sqrt(sq / n), peak)
    }

  /** Frame-level PCM-16 decode: per `frameSize`-sample frame, the RMS
    * energy (over [-1,1)-normalized samples) and the zero-crossing count
    * (adjacent RAW int16 pairs with strictly opposite signs — exact
    * integer math, no float-compare knife edge — counted within the
    * frame only, never across a frame boundary). The last frame may be
    * partial. These are the two classic cheap audio features (silence /
    * speech-music discrimination) a training-data audio pipeline gates
    * on before any model runs. */
  private[ops] def decodeWavPcm16Frames(bytes: Array[Byte], frameSize: Int)
      : Option[Array[(Int, Int, Double, Int)]] =
    wavPcm16DataRange(bytes).map { case (dataOff, n) =>
      def u8(i: Int): Int = bytes(i) & 0xFF
      def sample(j: Int): Int = (u8(dataOff + 2 * j) | (u8(dataOff + 2 * j + 1) << 8)).toShort.toInt
      val numFrames = (n + frameSize - 1) / frameSize
      val out = new Array[(Int, Int, Double, Int)](numFrames)
      var f = 0
      while (f < numFrames) {
        val start = f * frameSize
        val end = math.min(start + frameSize, n)
        var sq = 0.0; var zc = 0
        var j = start
        while (j < end) {
          val v = sample(j)
          val s = v / 32768.0
          sq += s * s
          // strict sign flip: product of raw int16 values < 0 (max
          // magnitude 2^30, no overflow) — the formulation the SQL
          // oracle replays verbatim
          if (j > start && sample(j - 1) * v < 0) zc += 1
          j += 1
        }
        val fn = end - start
        out(f) = (f, fn, if (fn == 0) 0.0 else math.sqrt(sq / fn), zc)
        f += 1
      }
      out
    }

  /** Canonical 44-byte PCM-16 WAV header for `dataBytes` of sample data —
    * fixture/builder helper (specs hand-build payloads with it; m2 wraps
    * testdata bytes into REAL decodable WAVs in-plan). */
  def wavPcm16Header(dataBytes: Int, sampleRate: Int = 8000, channels: Int = 1): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(44).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val blockAlign = channels * 2
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataBytes)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(channels.toShort).putInt(sampleRate)
      .putInt(sampleRate * blockAlign).putShort(blockAlign.toShort).putShort(16)
      .put("data".getBytes("US-ASCII")).putInt(dataBytes)
    bb.array()
  }

  // IMA/DVI ADPCM tables (IMA Digital Audio Compatibility recommended
  // practices; also RFC 3551 §4.5.1 DVI4): 89-entry step sizes and the
  // per-nibble index adjustment
  private val imaStep: Array[Int] = Array(
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31,
    34, 37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143,
    157, 173, 190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066, 2272, 2499,
    2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894, 6484, 7132, 7845, 8630,
    9493, 10442, 11487, 12635, 13899, 15289, 16818, 18500, 20350, 22385, 24623,
    27086, 29794, 32767)
  private val imaIndexAdj = Array(-1, -1, -1, -1, 2, 4, 6, 8, -1, -1, -1, -1, 2, 4, 6, 8)

  /** One IMA ADPCM decode step: (nibble, predictor, stepIndex) → new
    * (predictor, stepIndex). Shared verbatim by the decoder and the
    * fixture encoder (whose state MUST mirror the decoder's, or the
    * encoded stream drifts — the defining property of ADPCM). */
  private def imaStepDecode(nib: Int, pred: Int, idx: Int): (Int, Int) = {
    val step = imaStep(idx)
    var diff = step >> 3
    if ((nib & 1) != 0) diff += step >> 2
    if ((nib & 2) != 0) diff += step >> 1
    if ((nib & 4) != 0) diff += step
    val p = if ((nib & 8) != 0) pred - diff else pred + diff
    val clamped = math.max(-32768, math.min(32767, p))
    val i2 = math.max(0, math.min(88, idx + imaIndexAdj(nib)))
    (clamped, i2)
  }

  /** RIFF walk for a MONO IMA-ADPCM WAV (fmt tag 0x11, 4 bits/sample):
    * returns (dataOffset, dataLen, blockAlign). The block layout is the
    * standard one: 4-byte header (int16 predictor, uint8 step index,
    * reserved) then low-nibble-first sample nibbles. */
  private[ops] def wavAdpcmDataRange(bytes: Array[Byte]): Option[(Int, Int, Int)] = {
    if (bytes == null || bytes.length < 12) return None
    def u8(i: Int): Int = bytes(i) & 0xFF
    def le16(i: Int): Int = u8(i) | (u8(i + 1) << 8)
    def le32(i: Int): Long = u8(i).toLong | (u8(i + 1).toLong << 8) |
      (u8(i + 2).toLong << 16) | (u8(i + 3).toLong << 24)
    def tag(i: Int): String = new String(bytes, i, 4, "US-ASCII")
    if (tag(0) != "RIFF" || tag(8) != "WAVE") return None
    var i = 12
    var blockAlign = -1
    var dataOff = -1; var dataLen = 0L
    var walking = true
    while (walking && i + 8 <= bytes.length && (blockAlign < 0 || dataOff < 0)) {
      val id = tag(i)
      val sz = le32(i + 4)
      if (id == "fmt " && i + 8 + 16 <= bytes.length) {
        val fmtOk = le16(i + 8) == 0x11 && le16(i + 8 + 2) == 1 && le16(i + 8 + 14) == 4
        if (fmtOk) blockAlign = le16(i + 8 + 12)
      } else if (id == "data" && dataOff < 0) { dataOff = i + 8; dataLen = sz }
      val next = i.toLong + 8L + sz + (sz & 1L)
      if (next <= i || next > Int.MaxValue) walking = false else i = next.toInt
    }
    if (blockAlign < 5 || dataOff < 0) None
    else Some((dataOff,
      math.min(dataLen, (bytes.length - dataOff).toLong).toInt, blockAlign))
  }

  /** REAL compressed-audio SAMPLE decode — IMA ADPCM (4:1 over PCM-16),
    * the complete publicly-specified codec this engine decodes without
    * any media library: per block, seed (predictor, step index) from the
    * block header, then fold every nibble through [[imaStepDecode]],
    * accumulating the same (n, mean, RMS, |peak|) statistics as
    * [[decodeWavPcm16]] over [-1, 1)-normalized samples. A truncated
    * final block decodes the nibbles actually present (the crawl-prefix
    * policy). Returns None for anything that is not a mono IMA-ADPCM
    * WAV. Of the perceptual codecs, MP3 sample decode remains the
    * documented out-of-scope stub (it needs a filterbank, not a table
    * walk); video frames decode for real via [[decodeAviFrames]]. */
  private[ops] def decodeWavImaAdpcm(bytes: Array[Byte]): Option[(Long, Double, Double, Double)] =
    wavAdpcmDataRange(bytes).map { case (dataOff, dataLen, blockAlign) =>
      def u8(i: Int): Int = bytes(i) & 0xFF
      var n = 0L; var sum = 0.0; var sq = 0.0; var peak = 0.0
      def emit(raw: Int): Unit = {
        val s = raw / 32768.0
        n += 1; sum += s; sq += s * s
        val a = math.abs(s); if (a > peak) peak = a
      }
      var blockStart = dataOff
      val end = dataOff + dataLen
      while (blockStart + 4 <= end) {
        var pred = ((u8(blockStart) | (u8(blockStart + 1) << 8)).toShort).toInt
        var idx = math.max(0, math.min(88, u8(blockStart + 2)))
        emit(pred) // the header predictor IS sample 0 of the block
        val nibEnd = math.min(blockStart + blockAlign, end)
        var b = blockStart + 4
        while (b < nibEnd) {
          val lo = imaStepDecode(u8(b) & 0x0F, pred, idx)
          pred = lo._1; idx = lo._2; emit(pred)
          val hi = imaStepDecode((u8(b) >> 4) & 0x0F, pred, idx)
          pred = hi._1; idx = hi._2; emit(pred)
          b += 1
        }
        blockStart += blockAlign
      }
      if (n == 0) (0L, 0.0, 0.0, 0.0)
      else (n, sum / n, math.sqrt(sq / n), peak)
    }

  /** Fixture/builder: encode PCM-16 samples as a complete mono
    * IMA-ADPCM WAV (standard quantizer, state mirrored through
    * [[imaStepDecode]] so encoder and decoder track). Specs and the m9
    * query plant payloads with it; production corpora arrive already
    * encoded. */
  def imaAdpcmWav(samples: Array[Short], blockAlign: Int = 256,
                  sampleRate: Int = 8000): Array[Byte] = {
    require(blockAlign >= 5, s"blockAlign must be >= 5, got $blockAlign")
    val perBlock = (blockAlign - 4) * 2 + 1
    val nBlocks = if (samples.isEmpty) 0 else (samples.length + perBlock - 1) / perBlock
    val data = new java.io.ByteArrayOutputStream()
    var idx = 0
    for (blk <- 0 until nBlocks) {
      val base = blk * perBlock
      var pred = samples(base).toInt
      data.write(pred & 0xFF); data.write((pred >> 8) & 0xFF)
      data.write(idx); data.write(0)
      var j = 1
      var pending = -1
      while (j < perBlock) {
        val target = if (base + j < samples.length) samples(base + j).toInt else pred
        val step = imaStep(idx)
        var delta = target - pred
        var nib = 0
        if (delta < 0) { nib = 8; delta = -delta }
        if (delta >= step) { nib |= 4; delta -= step }
        if (delta >= (step >> 1)) { nib |= 2; delta -= step >> 1 }
        if (delta >= (step >> 2)) nib |= 1
        val st = imaStepDecode(nib, pred, idx)
        pred = st._1; idx = st._2
        if (pending < 0) pending = nib
        else { data.write(pending | (nib << 4)); pending = -1 }
        j += 1
      }
      if (pending >= 0) data.write(pending)
    }
    val payload = data.toByteArray
    val bb = java.nio.ByteBuffer.allocate(48 + payload.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(40 + payload.length)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(20)
      .putShort(0x11).putShort(1).putInt(sampleRate)
      .putInt(sampleRate * blockAlign / perBlock).putShort(blockAlign.toShort).putShort(4)
      .putShort(2).putShort(perBlock.toShort)
      .put("data".getBytes("US-ASCII")).putInt(payload.length)
    bb.put(payload)
    bb.array()
  }

  val mp3MetaType: StructType = StructType(Seq(
    StructField("n_frames", IntegerType),
    StructField("sample_rate", IntegerType),
    StructField("bitrate_min_kbps", IntegerType),
    StructField("bitrate_max_kbps", IntegerType),
    StructField("n_samples", LongType),
    StructField("duration_s", DoubleType)))

  // MPEG-1 Layer III header tables (ISO/IEC 11172-3): bitrate index
  // 1..14 in kbps (0 = free format, 15 = forbidden — both rejected),
  // sample-rate index 0..2 in Hz (3 = reserved)
  private val mp3Bitrates =
    Array(-1, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, -1)
  private val mp3SampleRates = Array(44100, 48000, 32000, -1)

  /** REAL MPEG-1 Layer III FRAME-HEADER decode — the metadata pass an
    * audio-curation pipeline gates on before any transcode: walk the
    * frame chain from byte 0 (11-bit sync, version 1, layer III,
    * non-free bitrate index, non-reserved sample-rate index), step by
    * each frame's own computed length `144000·kbps/rate + padding`, and
    * fold stream totals: frame count, sample rate, min/max frame
    * bitrate (min = max ⟺ CBR), samples (1152 per MPEG-1 Layer III
    * frame) and duration. Returns None when byte 0 is not a valid
    * frame header (no tag/garbage scan — callers strip ID3 first).
    * A final frame cut off by truncation still COUNTS (its header
    * parsed; crawl payloads are routinely cut off — same prefix policy
    * as [[decodeWavPcm16]]); the walk stops at the first invalid sync.
    * Sample-level (PCM) decode of compressed audio remains the one
    * documented stub — headers carry everything the curation pass
    * needs. */
  private[ops] def decodeMp3Frames(bytes: Array[Byte]): Option[(Int, Int, Int, Int, Long, Double)] = {
    if (bytes == null || bytes.length < 4) return None
    def u8(i: Int): Int = bytes(i) & 0xFF
    // one frame header at `i`: Some((bitrateKbps, sampleRate, frameLen))
    def header(i: Int): Option[(Int, Int, Int)] = {
      if (i + 4 > bytes.length) return None
      if (u8(i) != 0xFF || (u8(i + 1) & 0xE0) != 0xE0) return None
      val versionBits = (u8(i + 1) >> 3) & 0x3
      val layerBits = (u8(i + 1) >> 1) & 0x3
      if (versionBits != 3 || layerBits != 1) return None // MPEG-1 Layer III only
      val kbps = mp3Bitrates(u8(i + 2) >> 4)
      val rate = mp3SampleRates((u8(i + 2) >> 2) & 0x3)
      if (kbps < 0 || rate < 0) return None
      val pad = (u8(i + 2) >> 1) & 0x1
      Some((kbps, rate, 144000 * kbps / rate + pad))
    }
    header(0).map { case (kbps0, rate, len0) =>
      var n = 0; var bMin = kbps0; var bMax = kbps0
      var i = 0
      var next: Option[(Int, Int, Int)] = Some((kbps0, rate, len0))
      while (next.isDefined) {
        val (kbps, r, len) = next.get
        // a sample-rate switch mid-stream is not one stream — stop
        if (r != rate) next = None
        else {
          n += 1
          if (kbps < bMin) bMin = kbps
          if (kbps > bMax) bMax = kbps
          i += len
          next = header(i)
        }
      }
      val nSamples = n.toLong * 1152L
      (n, rate, bMin, bMax, nSamples, nSamples.toDouble / rate)
    }
  }

  /** Builder for deterministic MPEG-1 Layer III frame chains —
    * fixture/planting helper (the m8 oracle derives every field of
    * [[decodeMp3Frames]]' output in closed form from the planting
    * parameters). `bitrateIdx` in 1..14, `srIdx` in 0..2; frame bodies
    * are 'x' filler (header decode never reads them). */
  def encodeMp3Frames(nFrames: Int, bitrateIdx: Int, srIdx: Int): Array[Byte] = {
    require(nFrames >= 1, s"nFrames must be >= 1, got $nFrames")
    require(bitrateIdx >= 1 && bitrateIdx <= 14, s"bitrateIdx in 1..14, got $bitrateIdx")
    require(srIdx >= 0 && srIdx <= 2, s"srIdx in 0..2, got $srIdx")
    val kbps = mp3Bitrates(bitrateIdx)
    val rate = mp3SampleRates(srIdx)
    val frameLen = 144000 * kbps / rate // padding bit 0
    val out = new Array[Byte](frameLen * nFrames)
    java.util.Arrays.fill(out, 'x'.toByte)
    var f = 0
    while (f < nFrames) {
      val o = f * frameLen
      out(o) = 0xFF.toByte
      out(o + 1) = 0xFB.toByte // sync | MPEG-1 (11) | Layer III (01) | no CRC
      out(o + 2) = ((bitrateIdx << 4) | (srIdx << 2)).toByte // padding 0, private 0
      out(o + 3) = 0xC4.toByte // mono, no mode ext, no copyright/original
      f += 1
    }
    out
  }

  /** In-plan MP3 planting wrap: a Column building [[encodeMp3Frames]]
    * chains from per-row parameters — the [[pngRgb8Payload]] pattern
    * (scalar planting UDF justified: per-row codec byte construction
    * with no built-in equivalent; never on a decode/hot path). */
  def mp3FramesPayload(nFrames: org.apache.spark.sql.Column,
                       bitrateIdx: org.apache.spark.sql.Column,
                       srIdx: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val enc = udf((n: Int, b: Int, s: Int) => encodeMp3Frames(n, b, s))
    enc(nFrames, bitrateIdx, srIdx)
  }

  /** Partition-wise MP3 stream-metadata extraction over a binary
    * column: adds an `mp3_meta` struct ([[mp3MetaType]]) — null for
    * payloads that do not start with a valid MPEG-1 Layer III frame.
    * Same `mapPartitions` batch shape as [[withAudioStats]]. */
  def withMp3Meta(df: DataFrame, payloadCol: String): DataFrame = {
    val inSchema = df.schema
    val outSchema = inSchema.add(StructField("mp3_meta", mp3MetaType))
    val payloadIdx = inSchema.fieldIndex(payloadCol)
    val enc = RowEncoder.encoderFor(outSchema)
    df.mapPartitions { rows =>
      rows.map { r =>
        val meta = decodeMp3Frames(r.getAs[Array[Byte]](payloadIdx))
          .map { case (n, rate, bMin, bMax, ns, dur) => Row(n, rate, bMin, bMax, ns, dur) }
          .orNull
        Row.fromSeq(r.toSeq :+ meta)
      }
    }(enc)
  }

  val gifMetaType: StructType = StructType(Seq(
    StructField("version", StringType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("gct_colors", IntegerType),
    StructField("n_frames", IntegerType),
    StructField("n_ext", IntegerType),
    StructField("duration_cs", LongType)))

  /** REAL GIF container walk (GIF87a/89a, header-only — pixel decode is
    * [[decodeGifFrames]]): logical screen descriptor, global color table
    * skip, then the block stream — image descriptors (plus local color
    * table and data sub-blocks), extensions (Graphic Control delays
    * accumulate into duration), up to the 0x3B trailer. Animated-GIF
    * frame counts and total delay come straight from the container, no
    * codec needed. Returns None for anything structurally not a GIF
    * (bad signature, truncated block stream). */
  private[ops] def decodeGifMeta(bytes: Array[Byte])
      : Option[(String, Int, Int, Int, Int, Int, Long)] = {
    if (bytes == null || bytes.length < 14) return None
    val hdr = new String(bytes, 0, 6, "US-ASCII")
    if (hdr != "GIF87a" && hdr != "GIF89a") return None
    def u8(i: Int): Int = bytes(i) & 0xFF
    def le16(i: Int): Int = u8(i) | (u8(i + 1) << 8)
    val w = le16(6); val h = le16(8)
    val packed = u8(10)
    val gctColors = if ((packed & 0x80) != 0) 1 << ((packed & 0x07) + 1) else 0
    var pos = 13 + 3 * gctColors
    var frames = 0; var exts = 0; var delayCs = 0L
    // skip a length-prefixed sub-block chain starting at p; -1 on overrun
    def skipSubBlocks(start: Int): Int = {
      var p = start
      while (p < bytes.length && u8(p) != 0) p += u8(p) + 1
      if (p < bytes.length) p + 1 else -1
    }
    while (pos >= 0 && pos < bytes.length) {
      u8(pos) match {
        case 0x3B =>
          return Some((hdr, w, h, gctColors, frames, exts, delayCs))
        case 0x21 if pos + 1 < bytes.length =>
          exts += 1
          // Graphic Control Extension: 4-byte block, delay at bytes 2-3
          if (u8(pos + 1) == 0xF9 && pos + 6 < bytes.length && u8(pos + 2) == 4)
            delayCs += le16(pos + 4)
          pos = skipSubBlocks(pos + 2)
        case 0x2C if pos + 9 < bytes.length =>
          frames += 1
          val localColors =
            if ((u8(pos + 9) & 0x80) != 0) 1 << ((u8(pos + 9) & 0x07) + 1) else 0
          val dataStart = pos + 10 + 3 * localColors + 1 // +1: LZW code size
          pos = if (dataStart > bytes.length) -1 else skipSubBlocks(dataStart)
        case _ => return None // unknown block or truncated descriptor
      }
    }
    None // ran off the end without a trailer
  }

  /** GIF-flavor LZW compression of a color-index stream — the fixture
    * twin of [[lzwDecode]]: variable-width codes (minCodeSize+1 up to
    * 12 bits, LSB-first bit packing), a leading CLEAR, dictionary reset
    * via CLEAR when the 4096-entry table fills, EOI terminator. The
    * width-growth rule mirrors the decoder one entry ahead (encoder
    * grows at nextCode == 2^w + 1, decoder at its counter == 2^w),
    * which is the standard GIF pairing. Spec-pinned: decode(encode(x))
    * round-trips across width growth and table resets. */
  private[ops] def lzwEncode(indices: Array[Byte], minCodeSize: Int): Array[Byte] = {
    require(minCodeSize >= 2 && minCodeSize <= 8,
      s"LZW min code size must be in [2, 8], got $minCodeSize")
    val clear = 1 << minCodeSize; val eoi = clear + 1
    val out = new java.io.ByteArrayOutputStream()
    var cur = 0L; var nbits = 0
    var codeSize = minCodeSize + 1
    def emit(code: Int): Unit = {
      cur |= code.toLong << nbits; nbits += codeSize
      while (nbits >= 8) { out.write((cur & 0xFF).toInt); cur >>= 8; nbits -= 8 }
    }
    val table = new java.util.HashMap[Integer, Integer]()
    var nextCode = eoi + 1
    emit(clear)
    if (indices.nonEmpty) {
      var prev: Int = indices(0) & 0xFF
      require(prev < clear, s"index $prev exceeds the $minCodeSize-bit alphabet")
      var i = 1
      while (i < indices.length) {
        val b = indices(i) & 0xFF
        require(b < clear, s"index $b exceeds the $minCodeSize-bit alphabet")
        val hit = table.get((prev << 8) | b)
        if (hit != null) prev = hit
        else {
          emit(prev)
          table.put((prev << 8) | b, nextCode); nextCode += 1
          if (nextCode == (1 << codeSize) + 1 && codeSize < 12) codeSize += 1
          if (nextCode > 4095) {
            emit(clear)
            table.clear(); nextCode = eoi + 1; codeSize = minCodeSize + 1
          }
          prev = b
        }
        i += 1
      }
      emit(prev)
    }
    emit(eoi)
    if (nbits > 0) out.write((cur & 0xFF).toInt)
    out.toByteArray
  }

  /** GIF-flavor LZW decompression: reads LSB-first variable-width codes,
    * handles CLEAR/EOI, the KwKwK case (code == next), width growth at
    * table size 2^w capped at 12 bits, and a full table (no adds past
    * 4095 until a CLEAR). Stops after `maxPixels` output bytes or EOI.
    * Returns None for a malformed stream (code beyond the table, or
    * bits exhausted before EOI/maxPixels) — the strict corrupt policy
    * every decoder here shares. */
  private[ops] def lzwDecode(data: Array[Byte], minCodeSize: Int,
                             maxPixels: Int): Option[Array[Byte]] = {
    if (minCodeSize < 2 || minCodeSize > 8) return None
    val clear = 1 << minCodeSize; val eoi = clear + 1
    val out = new java.io.ByteArrayOutputStream()
    val prefix = new Array[Int](4096); val suffix = new Array[Byte](4096)
    val stack = new Array[Byte](4097)
    var codeSize = minCodeSize + 1
    var next = eoi + 1
    var prev = -1
    var cur = 0L; var nbits = 0; var pos = 0
    var done = false
    while (!done && out.size < maxPixels) {
      while (nbits < codeSize && pos < data.length) {
        cur |= (data(pos) & 0xFFL) << nbits; nbits += 8; pos += 1
      }
      if (nbits < codeSize) return None // truncated before EOI
      val code = (cur & ((1L << codeSize) - 1)).toInt
      cur >>= codeSize; nbits -= codeSize
      if (code == clear) { next = eoi + 1; codeSize = minCodeSize + 1; prev = -1 }
      else if (code == eoi) done = true
      else if (prev == -1) {
        if (code >= clear) return None // first code after clear must be a literal
        out.write(code); prev = code
      } else {
        val kwk = code == next && next < 4096
        if (code >= next && !kwk) return None
        var sp = 0
        var c = if (kwk) prev else code
        while (c >= clear + 2) { stack(sp) = suffix(c); sp += 1; c = prefix(c) }
        if (c >= clear) return None // chain bottomed out on a reserved code
        val first = c.toByte
        out.write(c)
        while (sp > 0) { sp -= 1; out.write(stack(sp)) }
        if (kwk) out.write(first)
        if (next < 4096) {
          prefix(next) = prev; suffix(next) = first
          next += 1
          if (next == (1 << codeSize) && codeSize < 12) codeSize += 1
        }
        prev = code
      }
    }
    Some(out.toByteArray)
  }

  /** Deterministic GIF89a encoder (test fixtures / planted corpora):
    * `gctBits` in 1..8 sets a 2^gctBits-color global table (entry i =
    * (i, 7i mod 256, 13i mod 256)); every frame gets a Graphic Control
    * Extension carrying `delayCs` and REAL LZW pixel data — frame f's
    * pixel k is palette index (f + k) mod 2^gctBits, so per-frame
    * channel means are closed-form in (doc params) and the m14 oracle
    * derives them without byte math. Structurally valid per the spec —
    * [[decodeGifMeta]], [[decodeGifFrames]], and any external GIF
    * parser agree on every field. */
  def encodeGif(width: Int, height: Int, nFrames: Int, gctBits: Int,
                delayCs: Int): Array[Byte] = {
    require(width >= 0 && width <= 0xFFFF && height >= 0 && height <= 0xFFFF,
      s"dims must be u16, got ${width}x$height")
    require(nFrames >= 0 && gctBits >= 1 && gctBits <= 8 &&
      delayCs >= 0 && delayCs <= 0xFFFF,
      s"bad GIF params: frames=$nFrames gctBits=$gctBits delay=$delayCs")
    val buf = scala.collection.mutable.ArrayBuffer.empty[Byte]
    buf ++= "GIF89a".getBytes("US-ASCII")
    def le16(v: Int): Unit = { buf += (v & 0xFF).toByte; buf += ((v >> 8) & 0xFF).toByte }
    le16(width); le16(height)
    buf += (0x80 | 0x70 | (gctBits - 1)).toByte // GCT flag, max color res
    buf += 0.toByte; buf += 0.toByte            // bg index, aspect
    for (i <- 0 until (1 << gctBits)) {
      buf += (i & 0xFF).toByte; buf += ((i * 7) & 0xFF).toByte
      buf += ((i * 13) & 0xFF).toByte
    }
    val m = 1 << gctBits
    val minCode = math.max(2, gctBits) // spec: LZW min code size >= 2
    for (f <- 0 until nFrames) {
      buf += 0x21.toByte; buf += 0xF9.toByte; buf += 4.toByte; buf += 0.toByte
      le16(delayCs); buf += 0.toByte; buf += 0.toByte
      buf += 0x2C.toByte; le16(0); le16(0); le16(width); le16(height)
      buf += 0.toByte // no local color table
      buf += minCode.toByte
      val px = new Array[Byte](width * height)
      var k = 0
      while (k < px.length) { px(k) = ((f + k) % m).toByte; k += 1 }
      val lzw = lzwEncode(px, minCode)
      var off = 0
      while (off < lzw.length) {
        val n = math.min(255, lzw.length - off)
        buf += n.toByte
        var j = 0
        while (j < n) { buf += lzw(off + j); j += 1 }
        off += n
      }
      buf += 0.toByte // sub-block terminator
    }
    buf += 0x3B.toByte
    buf.toArray
  }

  def gifPayload(width: org.apache.spark.sql.Column,
                 height: org.apache.spark.sql.Column,
                 nFrames: org.apache.spark.sql.Column,
                 gctBits: org.apache.spark.sql.Column,
                 delayCs: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val enc = udf((w: Int, h: Int, n: Int, b: Int, d: Int) => encodeGif(w, h, n, b, d))
    enc(width, height, nFrames, gctBits, delayCs)
  }

  /** Partition-wise GIF container-metadata extraction over a binary
    * column: adds a `gif_meta` struct ([[gifMetaType]]) — null for
    * payloads that are not structurally GIF. Same `mapPartitions` batch
    * shape as [[withMp3Meta]]. */
  def withGifMeta(df: DataFrame, payloadCol: String): DataFrame = {
    val inSchema = df.schema
    val outSchema = inSchema.add(StructField("gif_meta", gifMetaType))
    val payloadIdx = inSchema.fieldIndex(payloadCol)
    val enc = RowEncoder.encoderFor(outSchema)
    df.mapPartitions { rows =>
      rows.map { r =>
        val meta = decodeGifMeta(r.getAs[Array[Byte]](payloadIdx))
          .map { case (v, w, h, g, nf, ne, d) => Row(v, w, h, g, nf, ne, d) }
          .orNull
        Row.fromSeq(r.toSeq :+ meta)
      }
    }(enc)
  }

  /** REAL GIF frame decode: container walk + per-frame LZW pixel
    * decompression ([[lzwDecode]]) + palette lookup, folding channel
    * means. Frames use their local color table when present, else the
    * global one. Strict corrupt policy (the AVI discipline): any frame
    * that fails — bad LZW stream, fewer decoded pixels than the
    * descriptor promises, index beyond the palette, missing palette —
    * makes the whole payload None rather than a silent partial result.
    * The 64 MiB/4 pixel bomb gate matches [[decodeAviFrames]].
    * Returns (frame_id, n_pixels, mean_r, mean_g, mean_b) per frame. */
  private[ops] def decodeGifFrames(bytes: Array[Byte], maxFrames: Int = 1024)
      : Option[Array[(Int, Long, Double, Double, Double)]] = {
    if (bytes == null || bytes.length < 14) return None
    val hdr = new String(bytes, 0, 6, "US-ASCII")
    if (hdr != "GIF87a" && hdr != "GIF89a") return None
    def u8(i: Int): Int = bytes(i) & 0xFF
    def le16(i: Int): Int = u8(i) | (u8(i + 1) << 8)
    val packed = u8(10)
    val gctColors = if ((packed & 0x80) != 0) 1 << ((packed & 0x07) + 1) else 0
    val gctAt = 13
    var pos = gctAt + 3 * gctColors
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Double, Double, Double)]
    var fid = 0
    def skipSubBlocks(start: Int): Int = {
      var p = start
      while (p < bytes.length && u8(p) != 0) p += u8(p) + 1
      if (p < bytes.length) p + 1 else -1
    }
    while (pos >= 0 && pos < bytes.length) {
      u8(pos) match {
        case 0x3B =>
          return if (out.isEmpty) None else Some(out.toArray)
        case 0x21 if pos + 1 < bytes.length =>
          pos = skipSubBlocks(pos + 2)
        case 0x2C if pos + 9 < bytes.length =>
          val fw = le16(pos + 5); val fh = le16(pos + 7)
          val fPacked = u8(pos + 9)
          val localColors = if ((fPacked & 0x80) != 0) 1 << ((fPacked & 0x07) + 1) else 0
          val (palAt, palColors) =
            if (localColors > 0) (pos + 10, localColors)
            else (gctAt, gctColors)
          val np = fw.toLong * fh
          // np == 0 (a 0-width/height descriptor) would fold NaN means;
          // structurally hostile -> whole payload fails, like any other
          // corrupt frame
          if (palColors == 0 || np == 0 || np > (64L << 20) / 4) return None
          val minCodeAt = pos + 10 + 3 * localColors
          if (minCodeAt >= bytes.length) return None
          val minCode = u8(minCodeAt)
          // concatenate the data sub-blocks into one LZW stream
          val lzw = new java.io.ByteArrayOutputStream()
          var p = minCodeAt + 1
          while (p < bytes.length && u8(p) != 0) {
            val n = u8(p)
            if (p + 1 + n > bytes.length) return None
            lzw.write(bytes, p + 1, n)
            p += n + 1
          }
          if (p >= bytes.length) return None
          if (fid < maxFrames) {
            val px = lzwDecode(lzw.toByteArray, minCode, np.toInt) match {
              case Some(a) if a.length >= np => a
              case _ => return None // bad stream or fewer pixels than promised
            }
            var sr = 0.0; var sg = 0.0; var sb = 0.0
            var k = 0
            while (k < np) {
              val idx = px(k) & 0xFF
              if (idx >= palColors) return None
              val base = palAt + 3 * idx
              sr += u8(base); sg += u8(base + 1); sb += u8(base + 2)
              k += 1
            }
            out += ((fid, np, sr / np, sg / np, sb / np))
          }
          fid += 1
          pos = p + 1
        case _ => return None
      }
    }
    None // ran off the end without a trailer
  }

  val gifFrameType: StructType = StructType(Seq(
    StructField("frame_id", IntegerType, nullable = false),
    StructField("n_pixels", LongType, nullable = false),
    StructField("mean_r", DoubleType, nullable = false),
    StructField("mean_g", DoubleType, nullable = false),
    StructField("mean_b", DoubleType, nullable = false)))

  /** Frame-level REAL GIF decode over a binary column: one output row
    * per decoded frame (rows of non-GIF or corrupt payloads are
    * dropped), carrying (frame_id, n_pixels, mean_r, mean_g, mean_b).
    * The explode happens inside the partition iterator, exactly like
    * [[videoFrames]] — zero shuffle, output bounded by `maxFrames`
    * rows per payload. */
  def gifFrames(df: DataFrame, payloadCol: String, maxFrames: Int = 1024): DataFrame = {
    require(maxFrames >= 1, s"maxFrames must be >= 1, got $maxFrames")
    val inSchema = df.schema
    val outSchema = StructType(inSchema.fields.toSeq ++ gifFrameType.fields)
    val payloadIdx = inSchema.fieldIndex(payloadCol)
    val enc = RowEncoder.encoderFor(outSchema)
    df.mapPartitions { rows =>
      rows.flatMap { r =>
        decodeGifFrames(r.getAs[Array[Byte]](payloadIdx), maxFrames)
          .toSeq.flatMap { frames =>
            frames.iterator.map { case (fid, np, mr, mg, mb) =>
              Row.fromSeq(r.toSeq ++ Seq[Any](fid, np, mr, mg, mb))
            }
          }
      }
    }(enc)
  }

  val imageStatsType: StructType = StructType(Seq(
    StructField("n_pixels", LongType),
    StructField("mean_r", DoubleType),
    StructField("mean_g", DoubleType),
    StructField("mean_b", DoubleType)))

  /** REAL 24-bit uncompressed BMP pixel decode — no codec library, just
    * the DIB spec: require BITMAPINFOHEADER (size 40), BI_RGB (no
    * compression), 24 bpp, then walk the 4-byte-aligned pixel rows and
    * fold per-channel means over the BGR triples. Row order (bottom-up vs
    * top-down, the sign of the height field) does not affect the stats. A
    * truncated pixel array decodes the pixels actually present — same
    * prefix policy as [[decodeWavPcm16]]. Returns None for anything that
    * is not a 24-bpp uncompressed BMP — those formats (PNG, JPEG, ...)
    * remain the documented stub. */
  private[ops] def decodeBmp24(bytes: Array[Byte]): Option[(Long, Double, Double, Double)] = {
    if (bytes == null || bytes.length < 54) return None
    def u8(i: Int): Int = bytes(i) & 0xFF
    def le16(i: Int): Int = u8(i) | (u8(i + 1) << 8)
    def le32(i: Int): Int = u8(i) | (u8(i + 1) << 8) | (u8(i + 2) << 16) | (u8(i + 3) << 24)
    if (u8(0) != 'B' || u8(1) != 'M' || le32(14) != 40) return None
    if (le16(28) != 24 || le32(30) != 0) return None
    val w = le32(18)
    val h = math.abs(le32(22))
    val dataOff = le32(10)
    if (w <= 0 || h == 0 || dataOff < 54) return None
    val stride = (3 * w + 3) & ~3
    var n = 0L; var sr = 0.0; var sg = 0.0; var sb = 0.0
    var y = 0
    while (y < h) {
      val row = dataOff.toLong + y.toLong * stride
      var x = 0
      while (x < w && row + 3 * x + 2 < bytes.length) {
        val base = (row + 3 * x).toInt
        sb += u8(base); sg += u8(base + 1); sr += u8(base + 2)
        n += 1; x += 1
      }
      y += 1
    }
    if (n == 0) Some((0L, 0.0, 0.0, 0.0))
    else Some((n, sr / n, sg / n, sb / n))
  }

  /** REAL 24-bpp BMP pixel decode returning the raw RGB plane (row-major
    * in STORED row order — BMPs store bottom-up, and every consumer here
    * (resize, re-encode, stats) works in stored order, so orientation
    * round-trips). Truncated payloads keep the complete scanlines
    * actually present — the same prefix policy as [[decodeWavPcm16]].
    * Returns (width, height, rgb) with `rgb.length == 3*w*h`. */
  private[ops] def decodeBmp24Pixels(bytes: Array[Byte]): Option[(Int, Int, Array[Byte])] = {
    if (bytes == null || bytes.length < 54) return None
    def u8(i: Int): Int = bytes(i) & 0xFF
    def le16(i: Int): Int = u8(i) | (u8(i + 1) << 8)
    def le32(i: Int): Int = u8(i) | (u8(i + 1) << 8) | (u8(i + 2) << 16) | (u8(i + 3) << 24)
    if (u8(0) != 'B' || u8(1) != 'M' || le32(14) != 40) return None
    if (le16(28) != 24 || le32(30) != 0) return None
    val w = le32(18)
    val h = math.abs(le32(22))
    val dataOff = le32(10)
    if (w <= 0 || h == 0 || dataOff < 54) return None
    val stride = (3 * w + 3) & ~3
    // decode-bomb gate: same 64 MiB budget as the PNG reconstruction cap
    if (3L * w * h > 64L * 1024 * 1024) return None
    val fullRows = math.min(h.toLong,
      math.max(0L, (bytes.length.toLong - dataOff) / stride)).toInt
    if (fullRows == 0) return None
    val rgb = new Array[Byte](3 * w * fullRows)
    var y = 0
    while (y < fullRows) {
      val row = dataOff + y * stride
      var x = 0
      while (x < w) {
        val src = row + 3 * x
        val dst = 3 * (y * w + x)
        rgb(dst) = bytes(src + 2)     // R (stored BGR)
        rgb(dst + 1) = bytes(src + 1) // G
        rgb(dst + 2) = bytes(src)     // B
        x += 1
      }
      y += 1
    }
    Some((w, fullRows, rgb))
  }

  /** Area-weighted box resample of an RGB plane (the INTER_AREA
    * algorithm): every output pixel averages the source pixels its
    * back-projected box overlaps, weighted by exact overlap area, then
    * rounds half-up to a byte. Downscale is the training-data use;
    * upscale falls out of the same weights (boxes smaller than a source
    * pixel). For integer scale factors the weights are exact reciprocals
    * (e.g. 4x4 -> 2x2 is round(sum/4.0)), which is what makes the m4
    * oracle's SQL replay byte-exact. */
  private[ops] def boxResize(srcW: Int, srcH: Int, rgb: Array[Byte],
                             outW: Int, outH: Int): Array[Byte] = {
    require(srcW > 0 && srcH > 0 && outW > 0 && outH > 0, "dims must be positive")
    require(rgb.length >= 3 * srcW * srcH, "rgb plane shorter than dims")
    val sx = srcW.toDouble / outW
    val sy = srcH.toDouble / outH
    val out = new Array[Byte](3 * outW * outH)
    var oy = 0
    while (oy < outH) {
      val y0 = oy * sy; val y1 = (oy + 1) * sy
      var ox = 0
      while (ox < outW) {
        val x0 = ox * sx; val x1 = (ox + 1) * sx
        var sr = 0.0; var sg = 0.0; var sb = 0.0; var area = 0.0
        var iy = math.floor(y0).toInt
        while (iy < y1 && iy < srcH) {
          val wy = math.min(iy + 1.0, y1) - math.max(iy.toDouble, y0)
          var ix = math.floor(x0).toInt
          while (ix < x1 && ix < srcW) {
            val wx = math.min(ix + 1.0, x1) - math.max(ix.toDouble, x0)
            val wgt = wx * wy
            val base = 3 * (iy * srcW + ix)
            sr += (rgb(base) & 0xFF) * wgt
            sg += (rgb(base + 1) & 0xFF) * wgt
            sb += (rgb(base + 2) & 0xFF) * wgt
            area += wgt
            ix += 1
          }
          iy += 1
        }
        val dst = 3 * (oy * outW + ox)
        out(dst) = math.round(sr / area).toByte
        out(dst + 1) = math.round(sg / area).toByte
        out(dst + 2) = math.round(sb / area).toByte
        ox += 1
      }
      oy += 1
    }
    out
  }

  /** 64-bit average-hash (aHash) of a decodable 24-bpp BMP, as FOUR
    * 16-bit quarters (bit i of the hash lives in quarter i/16 at
    * position i%16). The perceptual-hash pipeline: decode → box-resample
    * to 8×8 ([[boxResize]]; already-8×8 inputs pass through the exact
    * identity) → per-pixel gray = r+g+b (channel-order invariant, so BGR
    * storage needs no mapping) → bit set iff the pixel is strictly
    * brighter than the image mean, compared in EXACT integers
    * (64·gray > total) so no float enters the hash.
    *
    * Quarters instead of one packed long: bit 63 would sign-wrap a
    * BIGINT, and the quartered form is exactly what the banded pair
    * join needs (pigeonhole: hamming ≤ 3 over 4 quarters guarantees one
    * exactly-equal quarter; see [[aHashPairs]]). */
  private[ops] def aHash64Quarters(bytes: Array[Byte]): Option[Array[Int]] =
    decodeBmp24Pixels(bytes).map { case (w, h, rgb) =>
      val small = if (w == 8 && h == 8) rgb else boxResize(w, h, rgb, 8, 8)
      val gray = new Array[Int](64)
      var total = 0L
      var i = 0
      while (i < 64) {
        gray(i) = (small(3 * i) & 0xFF) + (small(3 * i + 1) & 0xFF) +
          (small(3 * i + 2) & 0xFF)
        total += gray(i); i += 1
      }
      val q = new Array[Int](4)
      i = 0
      while (i < 64) {
        if (64L * gray(i) > total) q(i / 16) |= 1 << (i % 16)
        i += 1
      }
      q
    }

  /** 64-bit audio fingerprint of a PCM-16 WAV as four 16-bit quarters
    * (the [[aHash64Quarters]] packing): bit i−1 is set iff sample i is
    * strictly louder than sample i−1 over the first 65 samples — the
    * sign-of-delta contour that survives volume scaling and small
    * amplitude noise (the chromaprint-family idea at its integer-exact
    * simplest). Pure integer comparisons, so an external engine replays
    * it bit-for-bit from the raw bytes. None for undecodable WAVs or
    * fewer than 65 samples (a truncated clip has no stable contour). */
  private[ops] def audioFingerprintQuarters(bytes: Array[Byte]): Option[Array[Int]] =
    wavPcm16DataRange(bytes).flatMap { case (dataOff, nSamples) =>
      if (nSamples < 65) None
      else {
        def sample(j: Int): Int =
          ((bytes(dataOff + 2 * j) & 0xFF) | ((bytes(dataOff + 2 * j + 1) & 0xFF) << 8))
            .toShort.toInt
        val q = new Array[Int](4)
        var i = 1
        while (i <= 64) {
          if (sample(i) > sample(i - 1)) q((i - 1) / 16) |= 1 << ((i - 1) % 16)
          i += 1
        }
        Some(q)
      }
    }

  /** Adds `outCol`: the [[audioFingerprintQuarters]] delta-contour
    * fingerprint as `array<int>` of 4 quarters; null for non-WAV or
    * too-short payloads. Pure projection; pair with [[aHashPairs]]
    * (quarter-generic) for banded near-match detection. */
  def withAudioFingerprint(df: DataFrame, payloadCol: String,
                           outCol: String = "afp"): DataFrame = {
    val inSchema = df.schema
    val outSchema = inSchema.add(StructField(outCol, ArrayType(IntegerType)))
    val payloadIdx = inSchema.fieldIndex(payloadCol)
    val enc = RowEncoder.encoderFor(outSchema)
    df.mapPartitions { rows =>
      rows.map { r =>
        val q = audioFingerprintQuarters(r.getAs[Array[Byte]](payloadIdx))
          .map(_.toSeq).orNull
        Row.fromSeq(r.toSeq :+ q)
      }
    }(enc)
  }

  /** Adds `outCol`: the [[aHash64Quarters]] perceptual hash as
    * `array<int>` of 4 quarters; null for undecodable payloads. Pure
    * projection — zero shuffle at any corpus size. */
  def withImageAHash(df: DataFrame, payloadCol: String,
                     outCol: String = "ahash"): DataFrame = {
    val inSchema = df.schema
    val outSchema = inSchema.add(StructField(outCol, ArrayType(IntegerType)))
    val payloadIdx = inSchema.fieldIndex(payloadCol)
    val enc = RowEncoder.encoderFor(outSchema)
    df.mapPartitions { rows =>
      rows.map { r =>
        val q = aHash64Quarters(r.getAs[Array[Byte]](payloadIdx))
          .map(_.toSeq).orNull
        Row.fromSeq(r.toSeq :+ q)
      }
    }(enc)
  }

  /** Near-duplicate image pairs by perceptual-hash hamming distance:
    * ids whose quartered aHashes differ in ≤ `maxHamming` bits. Banded
    * equi-join on (quarter index, quarter value) — any pair within
    * hamming 3 shares at least one exact quarter (pigeonhole over 4
    * quarters), so this is an equi-join with per-bucket fanout, never an
    * all-pairs cross join. Output: (id_a, id_b, hamming), id_a < id_b.
    *
    * `maxBucketSize` (default 256; <= 0 disables) skips quarter buckets
    * holding more than that many signatures before the pair join — the
    * [[BandedPairs]] Σ size² cap the text LSH pair stage carries, with
    * a HIGHER budget because the failure mode differs: a 16-bit quarter
    * is a far weaker
    * band than a 64-bit minhash-band bucket, so low-information
    * payloads (dark images, silence, constant rasters) COLLIDE
    * NATURALLY — measured census on the replicated 100x corpus: max
    * bucket 19,184 and 96% of all 265M candidate pairs inside over-256
    * buckets, pure noise bands whose members are overwhelmingly not
    * within hamming 3 of each other. 256 sits above the natural
    * collision floor of the measured corpora (max real bucket 194 at
    * the 10x scale), so the cap only ever bites mega-buckets. The
    * recall trade is the documented LSH one: a pair whose EVERY shared
    * quarter is oversized is not emitted. */
  def aHashPairs(df: DataFrame, idCol: String, hashCol: String,
                 maxHamming: Int = 3, maxBucketSize: Int = 256): DataFrame = {
    require(maxHamming <= 3, "quarter-banding is sound only for maxHamming <= 3")
    val sigs = df.filter(col(hashCol).isNotNull)
      .select(col(idCol).as("id"), col(hashCol).as("h"))
    val banded = sigs.select(col("id"), col("h"), posexplode(col("h")))
      .withColumnRenamed("pos", "quarter").withColumnRenamed("col", "qv")
    val hamming = (0 until 4).map(i =>
      bit_count(col("h_a").getItem(i).bitwiseXOR(col("h_b").getItem(i))))
      .reduce(_ + _)
    BandedPairs(banded, Seq("quarter", "qv"), Seq("h"), maxBucketSize)
      .select(col("id_a"), col("id_b"), hamming.cast("int").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("id_a", "id_b")
  }

  /** Partition-wise REAL image resize over a binary column: decodable
    * 24-bpp BMP payloads are box-resampled ([[boxResize]]) to
    * `outW` x `outH` and re-encoded as a valid BMP in `outCol`; every
    * other payload maps to null (compressed-format resize follows the
    * same decode stubs as [[withImageStats]]). The output is a REAL
    * payload — feed it back through [[withImageStats]] / [[withMediaMeta]]
    * or write it out; same `mapPartitions` batch shape as the decoders. */
  def resizeBmp(df: DataFrame, payloadCol: String, outW: Int, outH: Int,
                outCol: String = "resized"): DataFrame = {
    require(outW > 0 && outH > 0, "output dims must be positive")
    transformBmp(df, payloadCol, outCol) { (w, h, rgb) =>
      Some((outW, outH, boxResize(w, h, rgb, outW, outH)))
    }
  }

  /** Shared decode -> pixel-transform -> re-encode frame for the BMP
    * augmentation family ([[resizeBmp]], [[flipBmp]], [[cropBmp]]):
    * `f` maps (w, h, top-down RGB) to the transformed raster, or None
    * to null the row (e.g. a crop window outside the image). Same
    * `mapPartitions` batch shape as every decoder here. */
  private def transformBmp(df: DataFrame, payloadCol: String, outCol: String)(
      f: (Int, Int, Array[Byte]) => Option[(Int, Int, Array[Byte])]): DataFrame = {
    val inSchema = df.schema
    val outSchema = inSchema.add(StructField(outCol, BinaryType))
    val payloadIdx = inSchema.fieldIndex(payloadCol)
    val enc = RowEncoder.encoderFor(outSchema)
    df.mapPartitions { rows =>
      rows.map { r =>
        val out = decodeBmp24Pixels(r.getAs[Array[Byte]](payloadIdx)).flatMap {
          case (w, h, rgb) => f(w, h, rgb).map { case (ow, oh, orgb) =>
            val stride = (3 * ow + 3) & ~3
            val body = new Array[Byte](stride * oh)
            var y = 0
            while (y < oh) {
              var x = 0
              while (x < ow) {
                val src = 3 * (y * ow + x)
                val dst = y * stride + 3 * x
                body(dst) = orgb(src + 2) // store BGR
                body(dst + 1) = orgb(src + 1)
                body(dst + 2) = orgb(src)
                x += 1
              }
              y += 1
            }
            bmp24Header(ow, oh) ++ body
          }
        }.orNull
        Row.fromSeq(r.toSeq :+ out)
      }
    }(enc)
  }

  /** Horizontal mirror of a BMP payload — the cheapest classic image
    * augmentation, exact byte math (pixel (x, y) <- (w-1-x, y)), so the
    * m11 oracle replays it from the planted bytes. Null for non-BMP. */
  def flipBmp(df: DataFrame, payloadCol: String, outCol: String = "flipped"): DataFrame =
    transformBmp(df, payloadCol, outCol) { (w, h, rgb) =>
      val out = new Array[Byte](rgb.length)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val d = 3 * (y * w + x); val s = 3 * (y * w + (w - 1 - x))
          out(d) = rgb(s); out(d + 1) = rgb(s + 1); out(d + 2) = rgb(s + 2)
          x += 1
        }
        y += 1
      }
      Some((w, h, out))
    }

  /** Crop a `cw` x `ch` window at top-left (x0, y0) of a BMP payload —
    * exact byte selection. Rows whose window falls outside the image
    * null out (a silent partial crop would corrupt training data). */
  def cropBmp(df: DataFrame, payloadCol: String, x0: Int, y0: Int, cw: Int, ch: Int,
              outCol: String = "cropped"): DataFrame = {
    require(x0 >= 0 && y0 >= 0 && cw > 0 && ch > 0, "crop window must be non-negative/positive")
    transformBmp(df, payloadCol, outCol) { (w, h, rgb) =>
      if (x0 + cw > w || y0 + ch > h) None
      else {
        val out = new Array[Byte](cw * ch * 3)
        var y = 0
        while (y < ch) {
          var x = 0
          while (x < cw) {
            val d = 3 * (y * cw + x); val s = 3 * ((y0 + y) * w + (x0 + x))
            out(d) = rgb(s); out(d + 1) = rgb(s + 1); out(d + 2) = rgb(s + 2)
            x += 1
          }
          y += 1
        }
        Some((cw, ch, out))
      }
    }
  }

  /** Canonical 54-byte 24-bpp BMP header for a `w` x `h` image —
    * fixture/builder helper (specs hand-build payloads with it; m2 wraps
    * testdata bytes into REAL decodable BMPs in-plan). Callers supply
    * `h * ((3*w + 3) & ~3)` bytes of BGR pixel data after it. */
  def bmp24Header(w: Int, h: Int): Array[Byte] = {
    val stride = (3 * w + 3) & ~3
    val dataBytes = stride * h
    val bb = java.nio.ByteBuffer.allocate(54).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put('B'.toByte).put('M'.toByte).putInt(54 + dataBytes)
      .putInt(0).putInt(54)          // reserved, pixel-data offset
      .putInt(40).putInt(w).putInt(h) // BITMAPINFOHEADER, width, height
      .putShort(1).putShort(24)       // planes, bpp
      .putInt(0).putInt(dataBytes)    // BI_RGB, image size
      .putInt(2835).putInt(2835)      // 72 dpi
      .putInt(0).putInt(0)            // palette
    bb.array()
  }

  /** REAL PNG pixel decode for non-interlaced 8-bit truecolor images
    * (color type 2 = RGB, 6 = RGBA) — stdlib only: concatenate the IDAT
    * chunks, `java.util.zip.Inflater` the zlib stream, reverse the five
    * standard scanline filters (None/Sub/Up/Average/Paeth, PNG spec
    * §9), and fold per-channel means over the reconstructed pixels
    * (alpha ignored). Truncated payloads decode the complete scanlines
    * actually recovered — same prefix policy as [[decodeWavPcm16]].
    * Returns None for every other PNG flavor (palette, 16-bit, gray,
    * interlaced) and for non-PNG bytes; JPEG/MP3 remain the documented
    * stub. The reconstruction buffer is capped at 64 MiB so a forged
    * header in crawl data cannot become a decompression bomb — larger
    * images decode their first `cap / rowBytes` rows. */
  private[ops] def decodePng8(bytes: Array[Byte]): Option[(Long, Double, Double, Double)] = {
    if (bytes == null || bytes.length < 45) return None
    def u8(i: Int): Int = bytes(i) & 0xFF
    def be32(i: Int): Int = (u8(i) << 24) | (u8(i + 1) << 16) | (u8(i + 2) << 8) | u8(i + 3)
    def tag(i: Int): String = new String(bytes, i, 4, "US-ASCII")
    val sig = Array(0x89, 'P'.toInt, 'N'.toInt, 'G'.toInt, 0x0D, 0x0A, 0x1A, 0x0A)
    if (!(0 until 8).forall(i => u8(i) == sig(i))) return None
    if (be32(8) != 13 || tag(12) != "IHDR") return None
    val w = be32(16); val h = be32(20)
    val (bitDepth, colorType) = (u8(24), u8(25))
    if (w <= 0 || h <= 0 || bitDepth != 8 || (colorType != 2 && colorType != 6)
      || u8(26) != 0 || u8(27) != 0 || u8(28) != 0) return None
    val bpp = if (colorType == 2) 3 else 4
    // IDAT gathering: chunk walk in Long math (a corrupt length must end
    // the walk, not wrap); a chunk cut off by truncation contributes the
    // bytes present and ends the walk
    val idat = new java.io.ByteArrayOutputStream()
    var i = 33L // 8 sig + 25 IHDR chunk
    var walking = true
    while (walking && i + 8 <= bytes.length) {
      val len = be32(i.toInt).toLong & 0xFFFFFFFFL
      val id = tag(i.toInt + 4)
      val dataStart = i + 8
      val avail = math.max(0L, math.min(len, bytes.length - dataStart))
      if (id == "IDAT" && avail > 0) idat.write(bytes, dataStart.toInt, avail.toInt)
      if (id == "IEND" || avail < len) walking = false
      i = dataStart + len + 4
    }
    if (idat.size == 0) return None
    val rowLen = 1L + w.toLong * bpp // filter byte + samples
    val cap = 64L << 20
    // A forged IHDR width can make a single row exceed the cap (and the
    // rowLen * wantRows Int math below overflow) — no real decode is
    // possible inside the budget, so reject rather than allocate.
    if (rowLen > cap) return None
    val wantRows = math.min(h.toLong, math.max(1L, cap / rowLen)).toInt
    val raw = new Array[Byte]((rowLen * wantRows).toInt)
    val inf = new java.util.zip.Inflater()
    inf.setInput(idat.toByteArray)
    var got = 0
    try {
      var stalled = false
      while (got < raw.length && !inf.finished() && !stalled) {
        val n = inf.inflate(raw, got, raw.length - got)
        got += n
        // Any zero-progress call is a stall, not just input exhaustion: a
        // forged zlib header with FDICT set reports needsDictionary() with
        // needsInput() false, which would otherwise loop forever. Stop and
        // keep whatever complete scanlines were recovered (prefix policy).
        if (n == 0) stalled = true
      }
    } catch { case _: java.util.zip.DataFormatException => () } // prefix policy
    finally inf.end()
    val rows = (got / rowLen).toInt
    if (rows == 0) return Some((0L, 0.0, 0.0, 0.0))
    // In-place unfiltering (PNG spec §9): recon(x) = filt(x) + predictor
    // over already-reconstructed neighbors a (left), b (up), c (up-left)
    val rl = rowLen.toInt
    var y = 0
    while (y < rows) {
      val off = y * rl
      val ft = raw(off) & 0xFF
      if (ft > 4) return None // corrupt filter byte: not a valid PNG row
      var x = 0
      while (x < rl - 1) {
        val cur = off + 1 + x
        val a = if (x >= bpp) raw(cur - bpp) & 0xFF else 0
        val b = if (y > 0) raw(cur - rl) & 0xFF else 0
        val c = if (y > 0 && x >= bpp) raw(cur - rl - bpp) & 0xFF else 0
        val pred = ft match {
          case 0 => 0
          case 1 => a
          case 2 => b
          case 3 => (a + b) / 2
          case 4 => // Paeth
            val p = a + b - c
            val (pa, pb, pc) = (math.abs(p - a), math.abs(p - b), math.abs(p - c))
            if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
        }
        raw(cur) = ((raw(cur) & 0xFF) + pred).toByte
        x += 1
      }
      y += 1
    }
    var n = 0L; var sr = 0.0; var sg = 0.0; var sb = 0.0
    y = 0
    while (y < rows) {
      val off = y * rl + 1
      var px = 0
      while (px < w) {
        val base = off + px * bpp
        sr += raw(base) & 0xFF; sg += raw(base + 1) & 0xFF; sb += raw(base + 2) & 0xFF
        n += 1; px += 1
      }
      y += 1
    }
    Some((n, sr / n, sg / n, sb / n))
  }

  /** Build a REAL non-interlaced 8-bit truecolor PNG from raw pixel bytes
    * (`channels` = 3 RGB or 4 RGBA, row-major, no padding) — fixture/
    * builder helper for specs and in-plan planting. `filterType` selects
    * the scanline filter applied to every row (0-4), so a spec can
    * exercise each of the five decode paths against known pixels. */
  def encodePng8(w: Int, h: Int, pix: Array[Byte], channels: Int = 3,
                 filterType: Int = 0): Array[Byte] = {
    require(channels == 3 || channels == 4, s"channels must be 3 or 4, got $channels")
    require(filterType >= 0 && filterType <= 4, s"filterType must be 0-4, got $filterType")
    require(pix.length == w * h * channels,
      s"pixel buffer must be w*h*channels = ${w * h * channels} bytes, got ${pix.length}")
    val bpp = channels
    val stride = w * bpp
    val filtered = new Array[Byte]((1 + stride) * h)
    var y = 0
    while (y < h) {
      filtered(y * (1 + stride)) = filterType.toByte
      var x = 0
      while (x < stride) {
        val cur = pix(y * stride + x) & 0xFF
        val a = if (x >= bpp) pix(y * stride + x - bpp) & 0xFF else 0
        val b = if (y > 0) pix((y - 1) * stride + x) & 0xFF else 0
        val c = if (y > 0 && x >= bpp) pix((y - 1) * stride + x - bpp) & 0xFF else 0
        val pred = filterType match {
          case 0 => 0
          case 1 => a
          case 2 => b
          case 3 => (a + b) / 2
          case 4 =>
            val p = a + b - c
            val (pa, pb, pc) = (math.abs(p - a), math.abs(p - b), math.abs(p - c))
            if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
        }
        filtered(y * (1 + stride) + 1 + x) = (cur - pred).toByte
        x += 1
      }
      y += 1
    }
    val deflater = new java.util.zip.Deflater()
    deflater.setInput(filtered); deflater.finish()
    val zOut = new java.io.ByteArrayOutputStream()
    val zBuf = new Array[Byte](8192)
    while (!deflater.finished()) zOut.write(zBuf, 0, deflater.deflate(zBuf))
    deflater.end()
    def chunk(id: String, data: Array[Byte]): Array[Byte] = {
      val crc = new java.util.zip.CRC32()
      val idB = id.getBytes("US-ASCII")
      crc.update(idB); crc.update(data)
      java.nio.ByteBuffer.allocate(12 + data.length)
        .putInt(data.length).put(idB).put(data).putInt(crc.getValue.toInt).array()
    }
    val ihdr = java.nio.ByteBuffer.allocate(13)
      .putInt(w).putInt(h).put(8.toByte)
      .put((if (channels == 3) 2 else 6).toByte)
      .put(0.toByte).put(0.toByte).put(0.toByte).array()
    val out = new java.io.ByteArrayOutputStream()
    out.write(Array(0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte))
    out.write(chunk("IHDR", ihdr))
    out.write(chunk("IDAT", zOut.toByteArray))
    out.write(chunk("IEND", Array.emptyByteArray))
    out.toByteArray
  }

  /** In-plan PNG wrap: a Column encoding the first `w*h*3` bytes of a
    * binary column (right-padded with 'x') as a REAL 8-bit RGB PNG via
    * [[encodePng8]] — the planting helper that lets the real
    * inflate+unfilter decode path run against testdata payloads. A scalar
    * UDF is justified here: PNG encoding is zlib + CRC32 byte work that no
    * built-in expression composes, and the pixel source is per-row data so
    * a driver-side literal cannot express it. */
  def pngRgb8Payload(payload: org.apache.spark.sql.Column, w: Int, h: Int): org.apache.spark.sql.Column = {
    val n = w * h * 3
    val enc = udf((b: Array[Byte]) => encodePng8(w, h,
      (if (b == null) Array.emptyByteArray else b).take(n).padTo(n, 'x'.toByte)))
    enc(payload)
  }

  /** REAL baseline-JPEG pixel decode via the JDK's stdlib codec
    * (`javax.imageio` — public API, no added dependency): require the
    * SOI magic, bound the decode by the SOF frame header (the same
    * 64 MiB budget as [[decodePng8]], as 4 bytes/pixel of ARGB), then
    * let ImageIO reconstruct the pixels and fold per-channel means.
    * JPEG is lossy, so unlike WAV/BMP/PNG these stats are pinned by
    * tolerance specs, not a byte-exact oracle. ImageIO has no partial
    * output, so truncated or corrupt streams return None (no prefix
    * policy possible). Returns None for anything ImageIO cannot decode
    * (progressive arithmetic-coded JPEGs, CMYK flavors, non-JPEG
    * bytes); MP3 samples remain the documented stub. */
  private[ops] def decodeJpeg(bytes: Array[Byte]): Option[(Long, Double, Double, Double)] = {
    if (bytes == null || bytes.length < 4) return None
    if ((bytes(0) & 0xFF) != 0xFF || (bytes(1) & 0xFF) != 0xD8) return None
    // Header-level bomb gate BEFORE handing bytes to ImageIO: a forged
    // SOF dimension pair would otherwise make ImageIO allocate the full
    // raster. decodeStub's marker walk reads the frame header only.
    val (fmt, w, h) = decodeStub(bytes)
    if (fmt != "jpeg" || w <= 0 || h <= 0 || w.toLong * h > (64L << 20) / 4) return None
    try {
      val in = new java.io.ByteArrayInputStream(bytes)
      val img = javax.imageio.ImageIO.read(in)
      if (img == null) return None
      val iw = img.getWidth; val ih = img.getHeight
      if (iw <= 0 || ih <= 0) return None
      var n = 0L; var sr = 0.0; var sg = 0.0; var sb = 0.0
      val rowBuf = new Array[Int](iw)
      var y = 0
      while (y < ih) {
        img.getRGB(0, y, iw, 1, rowBuf, 0, iw)
        var x = 0
        while (x < iw) {
          val argb = rowBuf(x)
          sr += (argb >> 16) & 0xFF; sg += (argb >> 8) & 0xFF; sb += argb & 0xFF
          n += 1; x += 1
        }
        y += 1
      }
      if (n == 0) None else Some((n, sr / n, sg / n, sb / n))
    } catch { case _: Exception => None } // corrupt/truncated stream: no stats
  }

  /** Encode raw RGB pixels as a baseline JPEG via `javax.imageio` —
    * fixture/builder helper (specs pin [[decodeJpeg]]'s stats against the
    * known input within a lossy-codec tolerance; in-plan planting uses it
    * the way [[pngRgb8Payload]] uses [[encodePng8]]). `quality` in (0,1]. */
  def encodeJpeg(w: Int, h: Int, rgb: Array[Byte], quality: Float = 0.92f): Array[Byte] = {
    require(rgb.length == w * h * 3,
      s"pixel buffer must be w*h*3 = ${w * h * 3} bytes, got ${rgb.length}")
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val base = (y * w + x) * 3
        img.setRGB(x, y, ((rgb(base) & 0xFF) << 16) | ((rgb(base + 1) & 0xFF) << 8) | (rgb(base + 2) & 0xFF))
        x += 1
      }
      y += 1
    }
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("jpeg").next()
    val params = writer.getDefaultWriteParam
    params.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    params.setCompressionQuality(quality)
    val out = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(out)
    try {
      writer.setOutput(ios)
      writer.write(null, new javax.imageio.IIOImage(img, null, null), params)
    } finally { ios.close(); writer.dispose() }
    out.toByteArray
  }

  val otsuStatsType: StructType = StructType(Seq(
    StructField("n_pixels", LongType, nullable = false),
    StructField("threshold", IntegerType, nullable = false),
    StructField("n_below", LongType, nullable = false),
    StructField("mean_below", DoubleType, nullable = false),
    StructField("mean_above", DoubleType, nullable = false),
    StructField("between_var", DoubleType, nullable = false)))

  /** Otsu's global threshold over a decoded 24-bpp BMP payload:
    * grayscale = integer luma (r + g + b) / 3 (channel-order invariant
    * and exactly replayable), then the classic between-class-variance
    * maximization σ²_b(t) = w₀·w₁·(μ₀ − μ₁)² over t ∈ [0, 255], ties
    * to the SMALLEST t — the binarization step of any scanned-document
    * / figure-extraction leg, and the simplest "is this image bimodal
    * or flat?" screen. Returns None for non-BMP payloads and for
    * constant images (no t splits two non-empty classes). */
  private[ops] def otsuOfBmp(bytes: Array[Byte]): Option[Row] =
    decodeBmp24Pixels(bytes).flatMap { case (w, h, rgb) =>
      val n = w * h
      if (n == 0) None
      else {
        val hist = new Array[Long](256)
        var p = 0
        while (p < n) {
          val c0 = rgb(3 * p) & 0xFF
          val c1 = rgb(3 * p + 1) & 0xFF
          val c2 = rgb(3 * p + 2) & 0xFF
          hist((c0 + c1 + c2) / 3) += 1
          p += 1
        }
        var total = 0L
        var g = 0
        while (g < 256) { total += g.toLong * hist(g); g += 1 }
        var bestT = -1
        var bestSigma = -1.0
        var n0 = 0L
        var s0 = 0L
        var t = 0
        while (t < 256) {
          n0 += hist(t)
          s0 += t.toLong * hist(t)
          val n1 = n - n0
          if (n0 > 0 && n1 > 0) {
            val mu0 = s0.toDouble / n0
            val mu1 = (total - s0).toDouble / n1
            val w0 = n0.toDouble / n
            val w1 = n1.toDouble / n
            val d = mu0 - mu1
            val sigma = w0 * w1 * d * d
            if (sigma > bestSigma) { bestSigma = sigma; bestT = t }
          }
          t += 1
        }
        if (bestT < 0) None
        else {
          var nb = 0L
          var sb = 0L
          var k = 0
          while (k <= bestT) { nb += hist(k); sb += k.toLong * hist(k); k += 1 }
          Some(Row(n.toLong, bestT, nb,
            sb.toDouble / nb, (total - sb).toDouble / (n - nb), bestSigma))
        }
      }
    }

  /** Partition-wise Otsu thresholding over a binary column: adds an
    * `otsu_stats` struct ([[otsuStatsType]]), null for non-BMP and
    * constant payloads. Zero shuffle — the [[withImageStats]] batch
    * shape; the 256-bin histogram and the threshold walk are
    * per-row-local primitive loops. */
  def withOtsuStats(df: DataFrame, payloadCol: String): DataFrame = {
    val inSchema = df.schema
    val outSchema = inSchema.add(StructField("otsu_stats", otsuStatsType))
    val payloadIdx = inSchema.fieldIndex(payloadCol)
    val enc = RowEncoder.encoderFor(outSchema)
    df.mapPartitions { rows =>
      rows.map { r =>
        val bytes = r.getAs[Array[Byte]](payloadIdx)
        Row.fromSeq(r.toSeq :+ otsuOfBmp(bytes).orNull)
      }
    }(enc)
  }

  /** Partition-wise REAL image decode over a binary column: adds an
    * `image_stats` struct (n_pixels, per-channel means) for 24-bpp
    * uncompressed BMP, non-interlaced 8-bit RGB/RGBA PNG, and baseline
    * JPEG payloads, null for every other format (whose pixel decode
    * remains the documented stub). Same `mapPartitions` batch shape as
    * [[withMediaMeta]] — and the right shape for the ImageIO leg, whose
    * codec lookup amortizes across a partition's rows. */
  def withImageStats(df: DataFrame, payloadCol: String): DataFrame = {
    val inSchema = df.schema
    val outSchema = inSchema.add(StructField("image_stats", imageStatsType))
    val payloadIdx = inSchema.fieldIndex(payloadCol)
    val enc = RowEncoder.encoderFor(outSchema)
    df.mapPartitions { rows =>
      // Executor-local: never spill ImageIO scratch to disk-cache temp files
      javax.imageio.ImageIO.setUseCache(false)
      rows.map { r =>
        val bytes = r.getAs[Array[Byte]](payloadIdx)
        val stats = decodeBmp24(bytes).orElse(decodePng8(bytes)).orElse(decodeJpeg(bytes))
          .map { case (n, mr, mg, mb) => Row(n, mr, mg, mb) }.orNull
        Row.fromSeq(r.toSeq :+ stats)
      }
    }(enc)
  }

  /** Partition-wise REAL audio decode over a binary column: adds an
    * `audio_stats` struct (n_samples, mean, rms, peak) for PCM-16 WAV
    * payloads, mono IMA-ADPCM WAVs (real compressed-audio sample decode
    * via [[decodeWavImaAdpcm]], round 11), AND FLAC streams (the full
    * lossless codec via [[decodeFlacPcm]], round 15); null for every
    * other format. MP3 sample decode is formally OUT OF SCOPE (SURVEY
    * §2.11: perceptual filterbank synthesis has no exact byte contract
    * an oracle could replay — [[withMp3Meta]] carries the stream
    * metadata); video frames decode via [[videoFrames]]. Same
    * `mapPartitions` batch shape as [[withMediaMeta]]. */
  def withAudioStats(df: DataFrame, payloadCol: String): DataFrame = {
    val inSchema = df.schema
    val outSchema = inSchema.add(StructField("audio_stats", audioStatsType))
    val payloadIdx = inSchema.fieldIndex(payloadCol)
    val enc = RowEncoder.encoderFor(outSchema)
    df.mapPartitions { rows =>
      rows.map { r =>
        val bytes = r.getAs[Array[Byte]](payloadIdx)
        val stats = decodeWavPcm16(bytes).orElse(decodeWavImaAdpcm(bytes))
          .orElse(decodeFlacPcm(bytes))
          .map { case (n, mean, rms, peak) => Row(n, mean, rms, peak) }.orNull
        Row.fromSeq(r.toSeq :+ stats)
      }
    }(enc)
  }

  val audioFrameType: StructType = StructType(Seq(
    StructField("frame_id", IntegerType, nullable = false),
    StructField("n_samples", IntegerType, nullable = false),
    StructField("rms", DoubleType, nullable = false),
    StructField("zcr", IntegerType, nullable = false)))

  /** Frame-level audio feature extraction over a binary column: one
    * output row per `frameSize`-sample frame of each PCM-16 WAV payload
    * (rows of other formats are dropped — frame features of an undecoded
    * payload are meaningless), carrying (frame_id, n_samples, rms, zcr).
    * Same `mapPartitions` batch shape as [[withAudioStats]]; the explode
    * happens inside the iterator, so a payload never materializes its
    * whole frame list as a Spark array value. Pure projection + local
    * fan-out: no shuffle at any scale, output size = ceil(samples /
    * frameSize) rows per payload. */
  def audioFrames(df: DataFrame, payloadCol: String, frameSize: Int = 512): DataFrame = {
    require(frameSize >= 2, s"frameSize must be >= 2, got $frameSize")
    val inSchema = df.schema
    val outSchema = StructType(inSchema.fields.toSeq ++ audioFrameType.fields)
    val payloadIdx = inSchema.fieldIndex(payloadCol)
    val enc = RowEncoder.encoderFor(outSchema)
    df.mapPartitions { rows =>
      rows.flatMap { r =>
        decodeWavPcm16Frames(r.getAs[Array[Byte]](payloadIdx), frameSize)
          .toSeq.flatMap { frames =>
            frames.iterator.map { case (fid, n, rms, zcr) =>
              // Seq[Any], not Seq(...): weak conformance would widen the
              // Int fields to Double next to `rms` and break the encoder
              Row.fromSeq(r.toSeq ++ Seq[Any](fid, n, rms, zcr))
            }
          }
      }
    }(enc)
  }

  /** STUB feature extractor: fixed-width float feature vector per payload
    * (deterministic from bytes; a real impl would run an encoder model).
    * Emitted as `array<float>` so downstream Similarity ops apply as-is. */
  def withFeatures(df: DataFrame, payloadCol: String, dim: Int = 16): DataFrame = {
    val inSchema = df.schema
    val outSchema = inSchema.add(StructField("features", ArrayType(FloatType)))
    val payloadIdx = inSchema.fieldIndex(payloadCol)
    val enc = RowEncoder.encoderFor(outSchema)
    df.mapPartitions { rows =>
      rows.map { r =>
        val bytes = r.getAs[Array[Byte]](payloadIdx)
        val feats = new Array[Float](dim)
        if (bytes != null && bytes.nonEmpty) {
          var i = 0
          while (i < bytes.length) {
            feats(i % dim) += (bytes(i) & 0xFF) / 255.0f
            i += 1
          }
          val n = math.sqrt(feats.map(f => f.toDouble * f).sum).toFloat
          if (n > 0) { var j = 0; while (j < dim) { feats(j) /= n; j += 1 } }
        }
        Row.fromSeq(r.toSeq :+ feats.toSeq)
      }
    }(enc)
  }

  /** Deterministic frame-sampling stub for video-like payloads: byte-range
    * "frames" every `stride` bytes, each tagged with its offset — the
    * explode/partitioning shape of real frame extraction. */
  def sampleFrames(df: DataFrame, payloadCol: String, stride: Int = 1024): DataFrame =
    df.withColumn("frame_offset",
        explode(sequence(lit(0), greatest(length(col(payloadCol)) - 1, lit(0)), lit(stride))))
      .withColumn("frame_bytes",
        expr(s"substring($payloadCol, frame_offset + 1, $stride)"))

  // ------------------------------------------------------------------
  // AVI (RIFF) video: container parse + REAL frame sample decode.
  // Two codecs, both over public byte layouts: uncompressed BI_RGB
  // 24-bit DIB frames ('00db' chunks — byte-exact, oracle-checkable)
  // and MJPG ('00dc' chunks, each frame a standalone baseline JPEG
  // handed to decodeJpeg). With this, video joins WAV/ADPCM/BMP/PNG/
  // JPEG as a REAL sample decode; only MP3 PCM remains out of scope.
  // ------------------------------------------------------------------

  /** Parse the AVI headers only (no frame decode): RIFF 'AVI ' → LIST
    * 'hdrl' → 'avih' main header (frame period, count, dimensions) and
    * the video stream's 'strh' handler fourcc. The 'movi' list is
    * skipped in O(1) — header parse cost is independent of payload
    * size, like [[decodeStub]]'s marker walk. Returns
    * (usec_per_frame, n_frames, width, height, handler) or None for
    * anything that is not a well-formed single-video-stream AVI. */
  private[ops] def aviInfo(bytes: Array[Byte]): Option[(Int, Int, Int, Int, String)] = {
    if (bytes == null || bytes.length < 24) return None
    def u8(i: Int): Int = bytes(i) & 0xFF
    def le32(i: Int): Int = u8(i) | (u8(i + 1) << 8) | (u8(i + 2) << 16) | (u8(i + 3) << 24)
    def tag(i: Int): String = new String(bytes, i, 4, "US-ASCII")
    if (tag(0) != "RIFF" || tag(8) != "AVI ") return None
    var usec = -1; var nFrames = -1; var w = -1; var h = -1
    var handler: String = null
    // depth-bounded walk: hdrl and strl are the only lists entered
    def walk(start: Int, end: Int): Unit = {
      var i = start
      while (i + 8 <= end) {
        val id = tag(i); val sz = le32(i + 4)
        if (sz < 0 || i + 8 + sz > end) return // corrupt size: stop the walk
        if (id == "LIST" && sz >= 4) {
          val lt = tag(i + 8)
          if (lt == "hdrl" || lt == "strl") walk(i + 12, i + 8 + sz)
        } else if (id == "avih" && sz >= 40) {
          usec = le32(i + 8); nFrames = le32(i + 8 + 16)
          w = le32(i + 8 + 32); h = le32(i + 8 + 36)
        } else if (id == "strh" && sz >= 8 && tag(i + 8) == "vids" && handler == null) {
          handler = tag(i + 12)
        }
        i += 8 + sz + (sz & 1) // RIFF chunks are word-aligned
      }
    }
    walk(12, bytes.length)
    if (usec <= 0 || nFrames < 0 || w <= 0 || h <= 0 || handler == null) None
    else Some((usec, nFrames, w, h, handler))
  }

  /** REAL per-frame pixel decode of an AVI payload: walk the 'movi'
    * list; '00db' chunks decode as uncompressed bottom-up BGR DIB
    * rasters (byte-exact), '00dc' chunks as standalone baseline JPEGs
    * via [[decodeJpeg]] (lossy — the m2 tolerance class). Emits one
    * (frame_id, n_pixels, mean_r, mean_g, mean_b) per video frame;
    * non-video chunks (e.g. '01wb' audio) are skipped. Strict policy
    * like JPEG, not crawl-prefix like WAV: any corrupt frame chunk
    * (bad size, short raster, undecodable JPEG) fails the WHOLE
    * payload to None — a video with a damaged frame has no defensible
    * partial stats. The per-frame raster is bomb-gated at 64 MiB
    * (as 4 B/px) BEFORE any per-pixel work, and `maxFrames` bounds
    * output fan-out so a forged frame count cannot explode a row. */
  private[ops] def decodeAviFrames(bytes: Array[Byte], maxFrames: Int = 1024)
      : Option[Array[(Int, Long, Double, Double, Double)]] =
    aviInfo(bytes).flatMap { case (_, _, w, h, _) =>
      if (w.toLong * h > (64L << 20) / 4) None
      else {
        def u8(i: Int): Int = bytes(i) & 0xFF
        def le32(i: Int): Int = u8(i) | (u8(i + 1) << 8) | (u8(i + 2) << 16) | (u8(i + 3) << 24)
        def tag(i: Int): String = new String(bytes, i, 4, "US-ASCII")
        val stride = ((3 * w + 3) / 4) * 4
        val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Double, Double, Double)]
        var fid = 0; var bad = false
        var i = 12; val n = bytes.length
        while (i + 8 <= n && !bad) {
          val id = tag(i); val sz = le32(i + 4)
          if (sz < 0 || i + 8 + sz > n) { bad = true }
          else {
            if (id == "LIST" && sz >= 4 && tag(i + 8) == "movi") {
              var j = i + 12; val end = i + 8 + sz
              while (j + 8 <= end && !bad && fid < maxFrames) {
                val cid = tag(j); val csz = le32(j + 4)
                if (csz < 0 || j + 8 + csz > end) { bad = true }
                else {
                  if (cid.endsWith("db")) {
                    if (csz < stride * h) bad = true
                    else {
                      var sr = 0.0; var sg = 0.0; var sb = 0.0
                      val base = j + 8
                      var y = 0
                      while (y < h) {
                        val ro = base + y * stride
                        var x = 0
                        while (x < w) {
                          sb += u8(ro + 3 * x); sg += u8(ro + 3 * x + 1)
                          sr += u8(ro + 3 * x + 2)
                          x += 1
                        }
                        y += 1
                      }
                      val np = w.toLong * h
                      out += ((fid, np, sr / np, sg / np, sb / np))
                      fid += 1
                    }
                  } else if (cid.endsWith("dc")) {
                    decodeJpeg(java.util.Arrays.copyOfRange(bytes, j + 8, j + 8 + csz)) match {
                      case Some((np, mr, mg, mb)) => out += ((fid, np, mr, mg, mb)); fid += 1
                      case None => bad = true
                    }
                  }
                  j += 8 + csz + (csz & 1)
                }
              }
            }
            i += 8 + sz + (sz & 1)
          }
        }
        if (bad || out.isEmpty) None else Some(out.toArray)
      }
    }

  /** Encode top-down RGB rasters (w*h*3 bytes each, like [[encodeJpeg]]'s
    * input) as a minimal single-stream AVI — the fixture/builder twin of
    * [[decodeAviFrames]]. `mjpeg = false` writes uncompressed BI_RGB
    * '00db' DIB frames (bottom-up BGR rows, 4-byte-aligned stride);
    * `mjpeg = true` writes '00dc' MJPG frames via [[encodeJpeg]]. */
  def encodeAvi(w: Int, h: Int, frames: Seq[Array[Byte]], usecPerFrame: Int = 40000,
                mjpeg: Boolean = false, quality: Float = 0.92f): Array[Byte] = {
    require(w > 0 && h > 0 && usecPerFrame > 0, "w, h, usecPerFrame must be positive")
    require(frames.nonEmpty, "at least one frame required")
    frames.foreach(f => require(f.length == w * h * 3,
      s"each frame must be w*h*3 = ${w * h * 3} bytes, got ${f.length}"))
    val stride = ((3 * w + 3) / 4) * 4
    val frameBytes: Seq[Array[Byte]] =
      if (mjpeg) frames.map(f => encodeJpeg(w, h, f, quality))
      else frames.map { f =>
        val dib = new Array[Byte](stride * h)
        var y = 0
        while (y < h) {
          val srcRow = h - 1 - y // DIB rows are bottom-up
          var x = 0
          while (x < w) {
            val s = (srcRow * w + x) * 3
            val d = y * stride + 3 * x
            dib(d) = f(s + 2); dib(d + 1) = f(s + 1); dib(d + 2) = f(s) // RGB -> BGR
            x += 1
          }
          y += 1
        }
        dib
      }
    val chunkId = if (mjpeg) "00dc" else "00db"
    val avihSz = 56; val strhSz = 56; val strfSz = 40
    val strlDecl = 4 + (8 + strhSz) + (8 + strfSz)
    val hdrlDecl = 4 + (8 + avihSz) + (8 + strlDecl)
    val moviBody = frameBytes.map(fb => 8 + fb.length + (fb.length & 1)).sum
    val fileLen = 12 + (8 + hdrlDecl) + (8 + 4 + moviBody)
    val buf = java.nio.ByteBuffer.allocate(fileLen).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def fourcc(s: String): Unit = buf.put(s.getBytes("US-ASCII"))
    fourcc("RIFF"); buf.putInt(fileLen - 8); fourcc("AVI ")
    fourcc("LIST"); buf.putInt(hdrlDecl); fourcc("hdrl")
    fourcc("avih"); buf.putInt(avihSz)
    buf.putInt(usecPerFrame); buf.putInt(0); buf.putInt(0); buf.putInt(0)
    buf.putInt(frames.length); buf.putInt(0); buf.putInt(1); buf.putInt(0)
    buf.putInt(w); buf.putInt(h)
    buf.putInt(0); buf.putInt(0); buf.putInt(0); buf.putInt(0) // reserved
    fourcc("LIST"); buf.putInt(strlDecl); fourcc("strl")
    fourcc("strh"); buf.putInt(strhSz)
    fourcc("vids"); fourcc(if (mjpeg) "MJPG" else "DIB ")
    buf.putInt(0) // flags
    buf.putShort(0); buf.putShort(0) // priority, language
    buf.putInt(0) // initialFrames
    buf.putInt(usecPerFrame) // scale
    buf.putInt(1000000) // rate: fps = rate / scale
    buf.putInt(0) // start
    buf.putInt(frames.length) // length in frames
    buf.putInt(0) // suggestedBufferSize
    buf.putInt(-1) // quality: default
    buf.putInt(0) // sampleSize
    buf.putShort(0); buf.putShort(0); buf.putShort(w.toShort); buf.putShort(h.toShort)
    fourcc("strf"); buf.putInt(strfSz)
    buf.putInt(40); buf.putInt(w); buf.putInt(h) // BITMAPINFOHEADER
    buf.putShort(1); buf.putShort(24)
    if (mjpeg) fourcc("MJPG") else buf.putInt(0) // biCompression
    buf.putInt(stride * h) // biSizeImage
    buf.putInt(0); buf.putInt(0); buf.putInt(0); buf.putInt(0)
    fourcc("LIST"); buf.putInt(4 + moviBody); fourcc("movi")
    frameBytes.foreach { fb =>
      fourcc(chunkId); buf.putInt(fb.length); buf.put(fb)
      if ((fb.length & 1) == 1) buf.put(0.toByte)
    }
    buf.array()
  }

  /** In-plan AVI planting: a Column wrapping a STRING column's bytes as
    * the DIB frame rasters of a real uncompressed AVI, so the full
    * container parse + frame decode runs against testdata while DuckDB
    * replays the channel means straight from the text (the
    * [[pngRgb8Payload]] discipline). The text is right-padded with 'x'
    * and sliced per frame; `w` is restricted to unpadded strides
    * (3w % 4 == 0) so text byte i lands at raster position i exactly —
    * frame f, pixel i/3, channel BGR[i%3]. Header bytes come from a
    * driver-built [[encodeAvi]] template (zero rasters), guaranteeing
    * builder/parser agreement. */
  def aviDibPayload(src: org.apache.spark.sql.Column, w: Int, h: Int, nFrames: Int,
                    usecPerFrame: Int = 40000): org.apache.spark.sql.Column = {
    val stride = ((3 * w + 3) / 4) * 4
    require(stride == 3 * w, s"w=$w pads the DIB stride; use w with 3w % 4 == 0")
    require(nFrames >= 1, "nFrames must be >= 1")
    val frameLen = stride * h
    val template = encodeAvi(w, h, Seq.fill(nFrames)(new Array[Byte](w * h * 3)), usecPerFrame)
    val chunkTotal = 8 + frameLen + (frameLen & 1)
    val firstData = template.length - nFrames * chunkTotal + 8
    val padded = substring(rpad(src, nFrames * frameLen, "x").cast("binary"), 1, nFrames * frameLen)
    var acc: org.apache.spark.sql.Column = lit(template.slice(0, firstData))
    var f = 0
    while (f < nFrames) {
      acc = concat(acc, substring(padded, f * frameLen + 1, frameLen))
      val gapFrom = firstData + f * chunkTotal + frameLen
      val gapTo = if (f == nFrames - 1) template.length else firstData + (f + 1) * chunkTotal
      if (gapTo > gapFrom) acc = concat(acc, lit(template.slice(gapFrom, gapTo)))
      f += 1
    }
    acc
  }

  val videoMetaType: StructType = StructType(Seq(
    StructField("n_frames", IntegerType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("usec_per_frame", IntegerType),
    StructField("duration_ms", DoubleType),
    StructField("handler", StringType)))

  /** Header-level AVI metadata over a binary column: adds a `video_meta`
    * struct (n_frames, width, height, usec_per_frame, duration_ms,
    * handler fourcc), null for non-AVI payloads. O(header) per row —
    * the 'movi' list is never walked. Same `mapPartitions` batch shape
    * as [[withMediaMeta]]. */
  def withVideoMeta(df: DataFrame, payloadCol: String): DataFrame = {
    val inSchema = df.schema
    val outSchema = inSchema.add(StructField("video_meta", videoMetaType))
    val payloadIdx = inSchema.fieldIndex(payloadCol)
    val enc = RowEncoder.encoderFor(outSchema)
    df.mapPartitions { rows =>
      rows.map { r =>
        val meta = aviInfo(r.getAs[Array[Byte]](payloadIdx)).map {
          case (usec, nf, w, h, handler) =>
            Row(nf, w, h, usec, nf.toDouble * usec / 1000.0, handler)
        }.orNull
        Row.fromSeq(r.toSeq :+ meta)
      }
    }(enc)
  }

  val videoFrameType: StructType = StructType(Seq(
    StructField("frame_id", IntegerType, nullable = false),
    StructField("n_pixels", LongType, nullable = false),
    StructField("mean_r", DoubleType, nullable = false),
    StructField("mean_g", DoubleType, nullable = false),
    StructField("mean_b", DoubleType, nullable = false)))

  /** Frame-level REAL video decode over a binary column: one output row
    * per decoded frame of each AVI payload (rows of non-AVI or corrupt
    * payloads are dropped), carrying (frame_id, n_pixels, mean_r,
    * mean_g, mean_b). The explode happens inside the partition
    * iterator, exactly like [[audioFrames]] — a payload never
    * materializes its whole frame list as a Spark array value. Pure
    * projection + local fan-out: no shuffle at any scale, output
    * bounded by `maxFrames` rows per payload. */
  def videoFrames(df: DataFrame, payloadCol: String, maxFrames: Int = 1024): DataFrame = {
    require(maxFrames >= 1, s"maxFrames must be >= 1, got $maxFrames")
    val inSchema = df.schema
    val outSchema = StructType(inSchema.fields.toSeq ++ videoFrameType.fields)
    val payloadIdx = inSchema.fieldIndex(payloadCol)
    val enc = RowEncoder.encoderFor(outSchema)
    df.mapPartitions { rows =>
      javax.imageio.ImageIO.setUseCache(false) // MJPG frames go through ImageIO
      rows.flatMap { r =>
        decodeAviFrames(r.getAs[Array[Byte]](payloadIdx), maxFrames)
          .toSeq.flatMap { frames =>
            frames.iterator.map { case (fid, np, mr, mg, mb) =>
              Row.fromSeq(r.toSeq ++ Seq[Any](fid, np, mr, mg, mb))
            }
          }
      }
    }(enc)
  }

  // ===== FLAC (lossless compressed audio, RFC 9639 / flac format spec) ====
  //
  // The LOSSLESS compressed-audio codec, decoded completely and without
  // any media library: every subframe type the format defines (CONSTANT,
  // VERBATIM, FIXED orders 0-4, LPC orders 1-32), partitioned Rice
  // residuals (both 4- and 5-bit parameter methods, escape partitions),
  // wasted bits, the three stereo decorrelation modes, UTF-8 frame
  // numbers, and both frame CRCs verified. Lossless is what makes this
  // the RIGHT codec to close the compressed-audio verification story:
  // decoded samples EQUAL the planted signal, so the m16 oracle replays
  // the decode closed-form from the planting parameters — no golden
  // constants (the step past m9's ADPCM, whose stateful quantizer the
  // oracle could only pin with verified constants). MP3 sample decode
  // stays formally OUT OF SCOPE (SURVEY §2.11): a perceptual filterbank
  // reconstruction has no exact byte contract an oracle could replay.

  /** CRC-8, polynomial x^8+x^2+x+1 (0x07), init 0 — the FLAC frame-header
    * checksum. */
  private[ops] def flacCrc8(bytes: Array[Byte], from: Int, until: Int): Int = {
    var crc = 0
    var i = from
    while (i < until) {
      crc ^= bytes(i) & 0xFF
      var b = 0
      while (b < 8) {
        crc = if ((crc & 0x80) != 0) ((crc << 1) ^ 0x07) & 0xFF else (crc << 1) & 0xFF
        b += 1
      }
      i += 1
    }
    crc
  }

  /** CRC-16, polynomial x^16+x^15+x^2+1 (0x8005), init 0 — the FLAC
    * whole-frame checksum. */
  private[ops] def flacCrc16(bytes: Array[Byte], from: Int, until: Int): Int = {
    var crc = 0
    var i = from
    while (i < until) {
      crc ^= (bytes(i) & 0xFF) << 8
      var b = 0
      while (b < 8) {
        crc = if ((crc & 0x8000) != 0) ((crc << 1) ^ 0x8005) & 0xFFFF else (crc << 1) & 0xFFFF
        b += 1
      }
      i += 1
    }
    crc
  }

  /** MSB-first bit reader over a byte array. Every read checks bounds;
    * running past the end raises (the caller's strict corrupt policy
    * turns that into a whole-payload None). */
  private final class FlacBitReader(bytes: Array[Byte]) {
    var pos: Long = 0L // bit position
    private val nBits = bytes.length.toLong * 8
    def bytePos: Int = (pos >> 3).toInt
    def bitsLeft: Long = nBits - pos
    def readBits(n: Int): Long = {
      if (n == 0) return 0L
      if (pos + n > nBits) throw new IllegalStateException("flac: bitstream exhausted")
      var v = 0L
      var left = n
      while (left > 0) {
        val byteIdx = (pos >> 3).toInt
        val bitOff = (pos & 7).toInt
        val take = math.min(8 - bitOff, left)
        val chunk = ((bytes(byteIdx) & 0xFF) >> (8 - bitOff - take)) & ((1 << take) - 1)
        v = (v << take) | chunk
        pos += take
        left -= take
      }
      v
    }
    def readSigned(n: Int): Long = {
      val u = readBits(n)
      if (n == 0) 0L else (u << (64 - n)) >> (64 - n)
    }
    /** FLAC unary: count of 0 bits before the terminating 1. */
    def readUnary(): Int = {
      var q = 0
      while (readBits(1) == 0L) {
        q += 1
        if (q > (1 << 24)) throw new IllegalStateException("flac: runaway unary")
      }
      q
    }
    def alignToByte(): Unit = { pos = (pos + 7) & ~7L }
  }

  /** MSB-first bit writer (fixture-encoder side). */
  private final class FlacBitWriter {
    private val out = new java.io.ByteArrayOutputStream()
    private var cur = 0
    private var nCur = 0
    def writeBits(v: Long, n: Int): Unit = {
      var left = n
      while (left > 0) {
        val take = math.min(8 - nCur, left)
        val chunk = ((v >>> (left - take)) & ((1L << take) - 1)).toInt
        cur = (cur << take) | chunk
        nCur += take
        left -= take
        if (nCur == 8) { out.write(cur); cur = 0; nCur = 0 }
      }
    }
    def writeUnary(q: Int): Unit = { var i = 0; while (i < q) { writeBits(0, 1); i += 1 }; writeBits(1, 1) }
    def alignToByte(): Unit = if (nCur > 0) writeBits(0, 8 - nCur)
    def toByteArray: Array[Byte] = { alignToByte(); out.toByteArray }
  }

  /** FLAC's UTF-8-style coded number (frame/sample index). Returns -1 on
    * a malformed coding. */
  private def flacUtf8Read(r: FlacBitReader): Long = {
    val b0 = r.readBits(8).toInt
    if ((b0 & 0x80) == 0) return b0.toLong
    var n = 0
    var mask = 0x40
    while ((b0 & mask) != 0 && n < 7) { n += 1; mask >>= 1 }
    if (n == 0 || n > 6) return -1L
    var v = (b0 & (mask - 1)).toLong
    var i = 0
    while (i < n) {
      val bi = r.readBits(8).toInt
      if ((bi & 0xC0) != 0x80) return -1L
      v = (v << 6) | (bi & 0x3F)
      i += 1
    }
    v
  }

  private def flacUtf8Write(w: FlacBitWriter, v: Long): Unit = {
    require(v >= 0, "flac frame number must be >= 0")
    if (v < 0x80) { w.writeBits(v, 8); return }
    // count payload bits -> continuation byte count
    var n = 1
    while (n < 6 && v >= (1L << (6 * n + (6 - n)))) n += 1
    // leading byte: n+1 ones, a zero, then the top bits
    val lead = ((0xFF << (7 - n)) & 0xFF) | ((v >> (6 * n)) & ((1 << (6 - n)) - 1)).toInt
    w.writeBits(lead.toLong, 8)
    var i = n - 1
    while (i >= 0) {
      w.writeBits(0x80L | ((v >> (6 * i)) & 0x3F), 8)
      i -= 1
    }
  }

  /** Parsed STREAMINFO: (sampleRate, channels, bitsPerSample,
    * totalSamples, firstFrameOffset). */
  private[ops] def flacStreamInfo(bytes: Array[Byte]): Option[(Int, Int, Int, Long, Int)] = {
    if (bytes == null || bytes.length < 4 + 4 + 34) return None
    if (!(bytes(0) == 'f' && bytes(1) == 'L' && bytes(2) == 'a' && bytes(3) == 'C')) return None
    var off = 4
    var info: Option[(Int, Int, Int, Long)] = None
    var last = false
    while (!last) {
      if (off + 4 > bytes.length) return None
      val h = bytes(off) & 0xFF
      last = (h & 0x80) != 0
      val btype = h & 0x7F
      val len = ((bytes(off + 1) & 0xFF) << 16) | ((bytes(off + 2) & 0xFF) << 8) | (bytes(off + 3) & 0xFF)
      if (off + 4 + len > bytes.length) return None
      if (btype == 0 && len >= 34) {
        val r = new FlacBitReader(bytes)
        r.pos = (off + 4).toLong * 8 + 16 + 16 + 24 + 24 // skip block/frame size bounds
        val rate = r.readBits(20).toInt
        val ch = r.readBits(3).toInt + 1
        val bps = r.readBits(5).toInt + 1
        val total = r.readBits(36)
        info = Some((rate, ch, bps, total))
      }
      off += 4 + len
    }
    info.map { case (rate, ch, bps, total) => (rate, ch, bps, total, off) }
  }

  private val flacFixedCoefs: Array[Array[Long]] = Array(
    Array(), Array(1L), Array(2L, -1L), Array(3L, -3L, 1L), Array(4L, -6L, 4L, -1L))

  /** Decode one channel's residual (partitioned Rice) into `res`,
    * `blockSize - predOrder` values starting at index `predOrder`. */
  private def flacReadResidual(r: FlacBitReader, blockSize: Int, predOrder: Int,
                               res: Array[Long]): Unit = {
    val method = r.readBits(2).toInt
    if (method > 1) throw new IllegalStateException("flac: reserved residual method")
    val paramBits = if (method == 0) 4 else 5
    val escape = if (method == 0) 15 else 31
    val po = r.readBits(4).toInt
    val nPart = 1 << po
    if (blockSize % nPart != 0)
      throw new IllegalStateException("flac: bad partition order")
    var idx = predOrder
    var p = 0
    while (p < nPart) {
      val count = (blockSize >> po) - (if (p == 0) predOrder else 0)
      if (count < 0) throw new IllegalStateException("flac: bad partition order")
      val param = r.readBits(paramBits).toInt
      if (param == escape) {
        val raw = r.readBits(5).toInt
        var i = 0
        while (i < count) { res(idx) = r.readSigned(raw); idx += 1; i += 1 }
      } else {
        var i = 0
        while (i < count) {
          val q = r.readUnary()
          val u = (q.toLong << param) | r.readBits(param)
          res(idx) = (u >>> 1) ^ -(u & 1L) // zigzag decode
          idx += 1; i += 1
        }
      }
      p += 1
    }
  }

  /** Decode one subframe into `out` (blockSize samples at bps bits). */
  private def flacReadSubframe(r: FlacBitReader, blockSize: Int, bps: Int,
                               out: Array[Long]): Unit = {
    if (r.readBits(1) != 0L) throw new IllegalStateException("flac: subframe pad bit set")
    val t = r.readBits(6).toInt
    var wasted = 0
    if (r.readBits(1) == 1L) wasted = r.readUnary() + 1
    val ebps = bps - wasted
    if (ebps <= 0) throw new IllegalStateException("flac: wasted bits exhaust sample size")
    t match {
      case 0 => // CONSTANT
        val v = r.readSigned(ebps)
        java.util.Arrays.fill(out, v)
      case 1 => // VERBATIM
        var i = 0
        while (i < blockSize) { out(i) = r.readSigned(ebps); i += 1 }
      case ft if ft >= 8 && ft <= 12 => // FIXED, order 0-4
        val order = ft - 8
        if (order > blockSize) throw new IllegalStateException("flac: order > blockSize")
        var i = 0
        while (i < order) { out(i) = r.readSigned(ebps); i += 1 }
        flacReadResidual(r, blockSize, order, out)
        val coefs = flacFixedCoefs(order)
        i = order
        while (i < blockSize) {
          var pred = 0L
          var k = 0
          while (k < order) { pred += coefs(k) * out(i - 1 - k); k += 1 }
          out(i) = out(i) + pred
          i += 1
        }
      case lt if lt >= 32 => // LPC, order 1-32
        val order = (lt & 31) + 1
        if (order > blockSize) throw new IllegalStateException("flac: order > blockSize")
        var i = 0
        while (i < order) { out(i) = r.readSigned(ebps); i += 1 }
        val precM1 = r.readBits(4).toInt
        if (precM1 == 15) throw new IllegalStateException("flac: invalid qlp precision")
        val prec = precM1 + 1
        val shift = r.readSigned(5).toInt
        if (shift < 0) throw new IllegalStateException("flac: negative qlp shift")
        val coefs = new Array[Long](order)
        i = 0
        while (i < order) { coefs(i) = r.readSigned(prec); i += 1 }
        flacReadResidual(r, blockSize, order, out)
        i = order
        while (i < blockSize) {
          var acc = 0L
          var k = 0
          while (k < order) { acc += coefs(k) * out(i - 1 - k); k += 1 }
          out(i) = out(i) + (acc >> shift)
          i += 1
        }
      case _ => throw new IllegalStateException(s"flac: reserved subframe type $t")
    }
    if (wasted > 0) {
      var i = 0
      while (i < blockSize) { out(i) = out(i) << wasted; i += 1 }
    }
  }

  private val flacBlockSizes = Array(-1, 192, 576, 1152, 2304, 4608, -6, -7,
    256, 512, 1024, 2048, 4096, 8192, 16384, 32768)

  /** Full-stream FLAC sample decode: every frame's header CRC-8 and
    * frame CRC-16 are VERIFIED, every subframe type decodes, stereo
    * decorrelation (left-side / right-side / mid-side) is undone.
    * Returns (sampleRate, channels, bitsPerSample, interleaved samples)
    * or None for non-FLAC / corrupt / truncated payloads — the strict
    * whole-payload corrupt policy of the AVI/GIF decoders (a checksummed
    * format has no honest crawl-prefix reading). Bomb gates: declared
    * and accumulated INTERLEAVED sample counts (samples × channels) are
    * capped at 2^24 (= 64 MiB of int samples) — per-channel caps would
    * let an 8-channel payload multiply the budget 8× — and frames
    * decode straight into the final int array (per-frame scratch only,
    * ≤ 4 MiB), so peak heap per payload stays at the 64 MiB budget the
    * AVI/PNG decoders enforce. */
  private[ops] def decodeFlacSamples(bytes: Array[Byte]): Option[(Int, Int, Int, Array[Int])] = {
    val info = flacStreamInfo(bytes)
    if (info.isEmpty) return None
    val (rate, channels, bps, total, frameOff) = info.get
    if (rate <= 0 || channels < 1 || channels > 8 || bps < 4 || bps > 32) return None
    if (total * channels > (1L << 24)) return None // bomb gate (interleaved)
    try {
      // decode destination: exact-sized when STREAMINFO declares the
      // total, else grown by doubling under the same interleaved cap
      var samples =
        if (total > 0) new Array[Int]((total * channels).toInt)
        else new Array[Int](1 << 16)
      val r = new FlacBitReader(bytes)
      r.pos = frameOff.toLong * 8
      var nOut = 0L
      while (r.bitsLeft >= 32) {
        val frameStart = r.bytePos
        if (r.readBits(14) != 0x3FFE) throw new IllegalStateException("flac: lost frame sync")
        if (r.readBits(1) != 0L) throw new IllegalStateException("flac: reserved bit set")
        val variable = r.readBits(1) == 1L
        val bsCode = r.readBits(4).toInt
        val srCode = r.readBits(4).toInt
        val chCode = r.readBits(4).toInt
        val ssCode = r.readBits(3).toInt
        if (r.readBits(1) != 0L) throw new IllegalStateException("flac: reserved bit set")
        if (flacUtf8Read(r) < 0) throw new IllegalStateException("flac: bad frame number")
        val blockSize = bsCode match {
          case 0 => throw new IllegalStateException("flac: reserved block size")
          case 6 => r.readBits(8).toInt + 1
          case 7 => r.readBits(16).toInt + 1
          case c => flacBlockSizes(c)
        }
        srCode match {
          case 12 => r.readBits(8)
          case 13 | 14 => r.readBits(16)
          case 15 => throw new IllegalStateException("flac: invalid sample-rate code")
          case _ => ()
        }
        val headerEnd = r.bytePos
        if ((r.pos & 7) != 0) throw new IllegalStateException("flac: header not byte-aligned")
        val crc8 = r.readBits(8).toInt
        if (flacCrc8(bytes, frameStart, headerEnd) != crc8)
          throw new IllegalStateException("flac: frame header CRC-8 mismatch")
        val nCh = if (chCode <= 7) chCode + 1 else 2
        if (nCh != channels) throw new IllegalStateException("flac: channel count changed")
        val frameBps = ssCode match {
          case 0 => bps
          case 1 => 8
          case 2 => 12
          case 4 => 16
          case 5 => 20
          case 6 => 24
          case 7 => 32
          case _ => throw new IllegalStateException("flac: reserved sample size")
        }
        if ((nOut + blockSize) * channels > (1L << 24))
          throw new IllegalStateException("flac: bomb gate")
        val chans = Array.fill(nCh)(new Array[Long](blockSize))
        var c = 0
        while (c < nCh) {
          // the SIDE channel of a decorrelated pair carries one extra bit
          val extra = chCode match {
            case 8 => if (c == 1) 1 else 0  // left/side
            case 9 => if (c == 0) 1 else 0  // side/right
            case 10 => if (c == 1) 1 else 0 // mid/side
            case _ => 0
          }
          flacReadSubframe(r, blockSize, frameBps + extra, chans(c))
          c += 1
        }
        // undo stereo decorrelation
        chCode match {
          case 8 => // left/side: right = left - side
            var i = 0
            while (i < blockSize) { chans(1)(i) = chans(0)(i) - chans(1)(i); i += 1 }
          case 9 => // side/right: left = side + right
            var i = 0
            while (i < blockSize) {
              val side = chans(0)(i)
              chans(0)(i) = side + chans(1)(i)
              i += 1
            }
          case 10 => // mid/side: mid stored as (l+r)>>1 with side's low bit
            var i = 0
            while (i < blockSize) {
              val mid2 = (chans(0)(i) << 1) | (chans(1)(i) & 1L)
              val side = chans(1)(i)
              val l = (mid2 + side) >> 1
              chans(0)(i) = l
              chans(1)(i) = l - side
              i += 1
            }
          case _ => ()
        }
        r.alignToByte()
        val crc16 = r.readBits(16).toInt
        if (flacCrc16(bytes, frameStart, r.bytePos - 2) != crc16)
          throw new IllegalStateException("flac: frame CRC-16 mismatch")
        // interleave this frame straight into the destination — the
        // channel-major scratch dies with the frame
        val need = ((nOut + blockSize) * channels).toInt
        if (need > samples.length) {
          val grown = math.min(1L << 24,
            math.max(samples.length.toLong * 2, need.toLong)).toInt
          samples = java.util.Arrays.copyOf(samples, grown)
        }
        var idx = (nOut * channels).toInt
        var i = 0
        while (i < blockSize) {
          var c = 0
          while (c < channels) {
            samples(idx) = chans(c)(i).toInt
            idx += 1; c += 1
          }
          i += 1
        }
        nOut += blockSize
        if (!variable) () // frame numbering already validated by UTF-8 read
      }
      if (total > 0 && nOut != total) throw new IllegalStateException("flac: sample count mismatch")
      val n = (nOut * channels).toInt
      Some((rate, channels, bps,
        if (samples.length == n) samples else java.util.Arrays.copyOf(samples, n)))
    } catch { case _: Exception => None }
  }

  /** [[decodeFlacSamples]] folded to the [[audioStatsType]] tuple
    * (n_samples, mean, rms, |peak|) over [-1, 1)-normalized samples —
    * the same contract as [[decodeWavPcm16]]. */
  private[ops] def decodeFlacPcm(bytes: Array[Byte]): Option[(Long, Double, Double, Double)] =
    decodeFlacSamples(bytes).map { case (_, _, bps, samples) =>
      val scale = (1L << (bps - 1)).toDouble
      var n = 0L; var sum = 0.0; var sq = 0.0; var peak = 0.0
      var i = 0
      while (i < samples.length) {
        val s = samples(i) / scale
        n += 1; sum += s; sq += s * s
        val a = math.abs(s); if (a > peak) peak = a
        i += 1
      }
      if (n == 0) (0L, 0.0, 0.0, 0.0) else (n, sum / n, math.sqrt(sq / n), peak)
    }

  /** Fixture/builder: encode MONO samples as a complete, spec-valid FLAC
    * stream (STREAMINFO + frames with verified-correct CRC-8/CRC-16),
    * choosing each block's subframe type from `types` (cycled):
    * "constant" (requires the block constant), "verbatim",
    * "fixed0".."fixed4", or "lpc" (order-2 quantized predictor
    * [2, -1] at shift 0 — any coefficients are lossless because the
    * residual is stored exactly; this one exercises the LPC read path
    * with closed-form behavior). Residuals are partitioned-Rice coded
    * (method 0, one partition, parameter fitted to the block, escape
    * when the fit exceeds 14). Specs round-trip it against
    * [[decodeFlacSamples]]; production corpora arrive already encoded. */
  def flacEncode(samples: Array[Int], blockSize: Int = 4096,
                 sampleRate: Int = 8000, bps: Int = 16,
                 types: Seq[String] = Seq("auto")): Array[Byte] = {
    require(blockSize >= 16 && blockSize <= 32768, s"blockSize out of range: $blockSize")
    // the fixture encoder emits 16-bit streams only (sample-size code 4
    // is written inline in the frame header); the DECODER handles every
    // size the format defines
    require(bps == 16, s"flacEncode emits 16-bit streams only, got bps=$bps")
    val lim = 1L << (bps - 1)
    require(samples.forall(s => s >= -lim && s < lim), s"samples exceed $bps-bit range")
    val out = new java.io.ByteArrayOutputStream()
    out.write("fLaC".getBytes("US-ASCII"))
    // STREAMINFO (last metadata block)
    val si = new FlacBitWriter
    si.writeBits(blockSize.toLong, 16); si.writeBits(blockSize.toLong, 16)
    si.writeBits(0, 24); si.writeBits(0, 24) // frame-size bounds unknown
    si.writeBits(sampleRate.toLong, 20)
    si.writeBits(0, 3) // channels - 1 (mono)
    si.writeBits((bps - 1).toLong, 5)
    si.writeBits(samples.length.toLong, 36)
    var md5 = 0
    while (md5 < 16) { si.writeBits(0, 8); md5 += 1 }
    val siBytes = si.toByteArray
    out.write(0x80); out.write(0); out.write(siBytes.length >> 8); out.write(siBytes.length & 0xFF)
    out.write(siBytes)
    // frames
    val nBlocks = (samples.length + blockSize - 1) / blockSize
    var blk = 0
    while (blk < nBlocks) {
      val base = blk * blockSize
      val bs = math.min(blockSize, samples.length - base)
      val block = java.util.Arrays.copyOfRange(samples, base, base + bs)
      val w = new FlacBitWriter
      w.writeBits(0x3FFE, 14) // sync
      w.writeBits(0, 1); w.writeBits(0, 1) // reserved, fixed blocksize
      w.writeBits(7, 4) // blocksize: 16-bit at header end
      w.writeBits(0, 4) // sample rate: from STREAMINFO
      w.writeBits(0, 4) // channels: 1, independent
      w.writeBits(4, 3) // sample size 16... overridden below for bps!=16
      w.writeBits(0, 1)
      flacUtf8Write(w, blk.toLong)
      w.writeBits((bs - 1).toLong, 16)
      val headerNoCrc = w.toByteArray // alignToByte is a no-op: header is byte-aligned
      val body = new FlacBitWriter
      val t = types(blk % types.size) match {
        case "auto" =>
          if (block.forall(_ == block(0))) "constant"
          else if (bs >= 3) "fixed2" else "verbatim"
        case x => x
      }
      flacWriteSubframe(body, block, bps, t)
      body.alignToByte()
      val bodyBytes = body.toByteArray
      // assemble: header + crc8 + body + crc16
      val pre = new java.io.ByteArrayOutputStream()
      pre.write(headerNoCrc)
      pre.write(flacCrc8(headerNoCrc, 0, headerNoCrc.length))
      pre.write(bodyBytes)
      val frame = pre.toByteArray
      val c16 = flacCrc16(frame, 0, frame.length)
      out.write(frame)
      out.write(c16 >> 8); out.write(c16 & 0xFF)
      blk += 1
    }
    out.toByteArray
  }

  /** One subframe of the fixture encoder (mono, no wasted bits). */
  private def flacWriteSubframe(w: FlacBitWriter, block: Array[Int], bps: Int,
                                t: String): Unit = {
    def writeResidual(res: Array[Long], from: Int): Unit = {
      w.writeBits(0, 2) // method 0: 4-bit Rice parameters
      w.writeBits(0, 4) // partition order 0: one partition
      val n = res.length - from
      // fit the Rice parameter to the mean folded magnitude
      var sum = 0.0
      var i = from
      while (i < res.length) {
        val u = (res(i) << 1) ^ (res(i) >> 63)
        sum += u.toDouble
        i += 1
      }
      val mean = if (n > 0) sum / n else 0.0
      var param = 0
      while (param < 14 && (1L << (param + 1)) < mean) param += 1
      val maxU = {
        var m = 0L
        var j = from
        while (j < res.length) { val u = (res(j) << 1) ^ (res(j) >> 63); if (u > m) m = u; j += 1 }
        m
      }
      // escape to raw if the worst quotient would be pathological
      if (param < 14 && (maxU >> param) <= 1024) {
        w.writeBits(param.toLong, 4)
        var j = from
        while (j < res.length) {
          val u = (res(j) << 1) ^ (res(j) >> 63)
          w.writeUnary((u >>> param).toInt)
          w.writeBits(u & ((1L << param) - 1), param)
          j += 1
        }
      } else {
        w.writeBits(15, 4) // escape
        // raw width: enough for the widest residual (signed)
        var width = 2
        var j = from
        while (j < res.length) {
          val v = res(j)
          while (width < 32 && (v < -(1L << (width - 1)) || v >= (1L << (width - 1)))) width += 1
          j += 1
        }
        w.writeBits(width.toLong, 5)
        j = from
        while (j < res.length) { w.writeBits(res(j) & ((1L << width) - 1), width); j += 1 }
      }
    }
    w.writeBits(0, 1) // pad
    t match {
      case "constant" =>
        require(block.forall(_ == block(0)), "constant subframe needs a constant block")
        w.writeBits(0, 6); w.writeBits(0, 1)
        w.writeBits(block(0).toLong & ((1L << bps) - 1), bps)
      case "verbatim" =>
        w.writeBits(1, 6); w.writeBits(0, 1)
        var i = 0
        while (i < block.length) { w.writeBits(block(i).toLong & ((1L << bps) - 1), bps); i += 1 }
      case f if f.startsWith("fixed") =>
        val order = f.stripPrefix("fixed").toInt
        require(order >= 0 && order <= 4 && order <= block.length,
          s"bad fixed order for block: $f")
        w.writeBits((8 + order).toLong, 6); w.writeBits(0, 1)
        var i = 0
        while (i < order) { w.writeBits(block(i).toLong & ((1L << bps) - 1), bps); i += 1 }
        val coefs = flacFixedCoefs(order)
        val res = new Array[Long](block.length)
        i = order
        while (i < block.length) {
          var pred = 0L
          var k = 0
          while (k < order) { pred += coefs(k) * block(i - 1 - k); k += 1 }
          res(i) = block(i).toLong - pred
          i += 1
        }
        writeResidual(res, order)
      case "lpc" =>
        val order = 2
        require(block.length > order, "lpc subframe needs > 2 samples")
        w.writeBits((32 | (order - 1)).toLong, 6); w.writeBits(0, 1)
        var i = 0
        while (i < order) { w.writeBits(block(i).toLong & ((1L << bps) - 1), bps); i += 1 }
        w.writeBits(3, 4)  // qlp precision 4 bits (precision-1 = 3)
        w.writeBits(0, 5)  // shift 0
        w.writeBits(2L & 0xF, 4)   // coef[0] = 2
        w.writeBits((-1L) & 0xF, 4) // coef[1] = -1
        val res = new Array[Long](block.length)
        i = order
        while (i < block.length) {
          res(i) = block(i).toLong - ((2L * block(i - 1) - block(i - 2)) >> 0)
          i += 1
        }
        writeResidual(res, order)
      case other => throw new IllegalArgumentException(s"unknown subframe type: $other")
    }
  }

  /** Test-vector builder: one left/side stereo FLAC frame (verbatim
    * subframes; the side channel carries its format-mandated extra bit),
    * so the stereo decorrelation path — which the mono fixture encoder
    * never takes — stays pinned by FlacSpec. */
  private[ops] def flacEncodeStereoLeftSide(left: Array[Int], right: Array[Int]): Array[Byte] = {
    require(left.length == right.length && left.nonEmpty, "equal-length non-empty channels")
    val bs = left.length
    val out = new java.io.ByteArrayOutputStream()
    out.write("fLaC".getBytes("US-ASCII"))
    val si = new FlacBitWriter
    si.writeBits(bs.toLong, 16); si.writeBits(bs.toLong, 16)
    si.writeBits(0, 24); si.writeBits(0, 24)
    si.writeBits(8000L, 20)
    si.writeBits(1, 3) // channels - 1 = 1
    si.writeBits(15, 5) // bps - 1
    si.writeBits(bs.toLong, 36)
    var i = 0
    while (i < 16) { si.writeBits(0, 8); i += 1 }
    val siBytes = si.toByteArray
    out.write(0x80); out.write(0); out.write(siBytes.length >> 8); out.write(siBytes.length & 0xFF)
    out.write(siBytes)
    val w = new FlacBitWriter
    w.writeBits(0x3FFE, 14); w.writeBits(0, 1); w.writeBits(0, 1)
    w.writeBits(7, 4); w.writeBits(0, 4)
    w.writeBits(8, 4) // channel assignment: left/side
    w.writeBits(4, 3); w.writeBits(0, 1)
    flacUtf8Write(w, 0L)
    w.writeBits((bs - 1).toLong, 16)
    val hdr = w.toByteArray
    val body = new FlacBitWriter
    // channel 0: left, verbatim at 16 bits
    body.writeBits(0, 1); body.writeBits(1, 6); body.writeBits(0, 1)
    i = 0
    while (i < bs) { body.writeBits(left(i).toLong & 0xFFFF, 16); i += 1 }
    // channel 1: side = left - right, verbatim at 17 bits (the extra bit)
    body.writeBits(0, 1); body.writeBits(1, 6); body.writeBits(0, 1)
    i = 0
    while (i < bs) {
      val side = (left(i) - right(i)).toLong
      body.writeBits(side & 0x1FFFF, 17)
      i += 1
    }
    body.alignToByte()
    val pre = new java.io.ByteArrayOutputStream()
    pre.write(hdr); pre.write(flacCrc8(hdr, 0, hdr.length)); pre.write(body.toByteArray)
    val frame = pre.toByteArray
    val c16 = flacCrc16(frame, 0, frame.length)
    out.write(frame); out.write(c16 >> 8); out.write(c16 & 0xFF)
    out.toByteArray
  }

  /** Fixture encoder for the interleaved bomb-gate spec: `nFrames`
    * frames of `channels` independent 16-bit CONSTANT subframes (value
    * `v`), STREAMINFO declaring `declaredTotal` samples/channel (0 =
    * unknown, the streamed-capture case). The production encoder is
    * mono-only; the gate needs a wide stream — a few-KB payload whose
    * per-channel count stays far under 2^24 while the interleaved
    * count crosses it. */
  private[ops] def flacEncodeConstantFrames(v: Int, channels: Int, blockSize: Int,
      nFrames: Int, declaredTotal: Long): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write("fLaC".getBytes("US-ASCII"))
    val si = new FlacBitWriter
    si.writeBits(blockSize.toLong & 0xFFFF, 16); si.writeBits(blockSize.toLong & 0xFFFF, 16)
    si.writeBits(0, 24); si.writeBits(0, 24)
    si.writeBits(8000L, 20)
    si.writeBits((channels - 1).toLong, 3)
    si.writeBits(15, 5) // bps - 1
    si.writeBits(declaredTotal, 36)
    var i = 0
    while (i < 16) { si.writeBits(0, 8); i += 1 }
    val siBytes = si.toByteArray
    out.write(0x80); out.write(0); out.write(siBytes.length >> 8); out.write(siBytes.length & 0xFF)
    out.write(siBytes)
    var f = 0
    while (f < nFrames) {
      val w = new FlacBitWriter
      w.writeBits(0x3FFE, 14); w.writeBits(0, 1); w.writeBits(0, 1)
      w.writeBits(7, 4) // block size: 16-bit (bs-1) follows the header
      w.writeBits(0, 4) // sample rate: from STREAMINFO
      w.writeBits((channels - 1).toLong, 4)
      w.writeBits(4, 3) // 16 bits/sample
      w.writeBits(0, 1)
      flacUtf8Write(w, f.toLong)
      w.writeBits((blockSize - 1).toLong, 16)
      val hdr = w.toByteArray
      val body = new FlacBitWriter
      var c = 0
      while (c < channels) {
        body.writeBits(0, 1); body.writeBits(0, 6); body.writeBits(0, 1) // constant
        body.writeBits(v.toLong & 0xFFFF, 16)
        c += 1
      }
      body.alignToByte()
      val pre = new java.io.ByteArrayOutputStream()
      pre.write(hdr); pre.write(flacCrc8(hdr, 0, hdr.length)); pre.write(body.toByteArray)
      val frame = pre.toByteArray
      val c16 = flacCrc16(frame, 0, frame.length)
      out.write(frame); out.write(c16 >> 8); out.write(c16 & 0xFF)
      f += 1
    }
    out.toByteArray
  }

  /** In-plan FLAC planting wrap: a Column building [[flacEncode]] of the
    * m16 closed-form four-block signal for a doc id — constant /
    * verbatim / fixed2 / lpc blocks of 64 samples each, every sample a
    * pure integer function of (doc_id, j) that the oracle replays in
    * SQL. The signal definition lives HERE (one place) so the query,
    * the spec, and the oracle SQL cannot drift apart. */
  def flacPayload(docId: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val enc = udf((d: Long) => flacEncode(flacSignal(d), blockSize = 64,
      types = Seq("constant", "verbatim", "fixed2", "lpc")))
    enc(docId.cast("long"))
  }

  /** The m16 planted signal: 4 blocks x 64 samples, closed-form in
    * (d, j) with j the global sample index 0..255 —
    *   block 0 (constant): (d % 1000) * 16 - 8000
    *   block 1 (verbatim): ((d * 37 + j * 251) % 4096) - 2048
    *   block 2 (fixed2):   ((d % 100) * 3 - 150) + ((d % 7) - 3) * (j - 128)
    *   block 3 (lpc):      ((d * 13 + j * 89) % 257) - 128
    * All values stay well inside 16-bit range. */
  private[ops] def flacSignal(d: Long): Array[Int] =
    Array.tabulate(256) { j =>
      (j / 64) match {
        case 0 => ((d % 1000L) * 16L - 8000L).toInt
        case 1 => (((d * 37L + j * 251L) % 4096L) - 2048L).toInt
        case 2 => (((d % 100L) * 3L - 150L) + ((d % 7L) - 3L) * (j - 128L)).toInt
        case _ => (((d * 13L + j * 89L) % 257L) - 128L).toInt
      }
    }
}
