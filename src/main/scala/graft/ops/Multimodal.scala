package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing — north-star extension (BASELINE.json).
  *
  * Media (image/audio/video) travels as an opaque `binary` column plus
  * typed metadata. The Spark-side contract — schema, batched
  * per-partition processing, deterministic output — is real and
  * tested. Two decoder tiers:
  *
  *  - **Real image decode** ([[decodeImage]], [[decodeImageMeta]],
  *    [[thumbnailPng]]): `javax.imageio` ships in the JDK
  *    (PNG/JPEG/BMP/GIF/WBMP), so width/height/channels extraction and
  *    thumbnail re-encode need zero external dependencies. Dimensions
  *    come from the format HEADER via `ImageReader.getWidth/getHeight`
  *    — no full pixel decode on the metadata path.
  *  - **Real container parse** ([[decodeWav]], [[decodeMp4]],
  *    [[sniffMedia]], [[decodeMedia]]): RIFF/WAVE chunk walk and
  *    ISO-BMFF box walk, JDK-only — header-tier metadata without codec
  *    libraries. FRAME/SAMPLE decode beyond raw PCM genuinely needs
  *    ffmpeg-class libs this container lacks and stays out of scope
  *    (documented at the call sites); every metadata path runs on real
  *    written containers.
  *
  * Scale design: decode runs as an Iterator→Iterator `mapPartitions`
  * (the Scala analog of `mapInPandas` batching) so one task holds one
  * partition's codec context, never the whole partition materialized;
  * binary payloads stay columnar in parquet and are never shuffled —
  * repartition happens BEFORE attaching heavy decoded columns.
  */
object Multimodal {

  // ImageIO's default stream factory (useCache=true) backs EVERY
  // read/write with a temp FILE in java.io.tmpdir — one create+delete
  // syscall pair per image, serialized by the filesystem. At 32
  // concurrent decode tasks that lock convoy inverts scaling (the r15
  // driver probe read q_image_dhash 3.1x FASTER at 8 cores than 32).
  // Payloads here are in-memory byte arrays already, so the disk cache
  // buys nothing: use MemoryCacheImageInputStream. Object-init runs
  // once per JVM before any decode; decode results are unchanged.
  javax.imageio.ImageIO.setUseCache(false)

  /** Declared schema of the compact decoded-media metadata
    * ([[decodeMedia]]): nullable throughout — a null payload decodes
    * to all-null meta, and each modality fills only the fields it
    * really has (see [[decodeMedia]]).
    */
  val mediaMetaSchema: StructType = StructType(Seq(
    StructField("n_bytes", LongType, nullable = true),
    StructField("width", IntegerType, nullable = true),
    StructField("height", IntegerType, nullable = true),
    StructField("n_frames", IntegerType, nullable = true)
  ))

  /** Declared schema of REAL image metadata ([[decodeImage]]):
    * unrecognized formats leave width/height/channels/format null
    * (n_bytes still fills — it needs no codec).
    */
  val imageMetaSchema: StructType = StructType(Seq(
    StructField("n_bytes", LongType, nullable = true),
    StructField("width", IntegerType, nullable = true),
    StructField("height", IntegerType, nullable = true),
    StructField("channels", IntegerType, nullable = true),
    StructField("format", StringType, nullable = true)
  ))

  /** REAL image decode via JDK ImageIO: width/height from the format
    * header (no pixel decode), channels from the reader's raster type,
    * format name from the matched reader. Null payloads yield all-null
    * meta; payloads no installed reader recognizes yield (n_bytes,
    * null, null, null, null) — the caller decides whether to surface
    * or filter the unreadables.
    */
  def decodeImage(bytes: Array[Byte]): Row = {
    if (bytes == null) return Row(null, null, null, null, null)
    val n = bytes.length.toLong
    val in = javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(bytes))
    try {
      val readers = javax.imageio.ImageIO.getImageReaders(in)
      if (!readers.hasNext) Row(n, null, null, null, null)
      else {
        val r = readers.next()
        try {
          r.setInput(in)
          val types = r.getImageTypes(0)
          val channels =
            if (types.hasNext) Int.box(types.next().getNumBands) else null
          Row(n, r.getWidth(0), r.getHeight(0), channels,
            r.getFormatName.toLowerCase(java.util.Locale.ROOT))
        } finally r.dispose()
      }
    } catch {
      // a truncated/corrupt header: recognized but unreadable — treat
      // exactly like an unrecognized format rather than failing the task
      case scala.util.control.NonFatal(_) => Row(n, null, null, null, null)
    } finally in.close()
  }

  /** The one metadata-attach dataflow every real decoder shares:
    * Iterator→Iterator `mapPartitions` (one decoder context per task,
    * rows streamed, nothing materialized), output schema = input ++
    * `metaSchema`. Decoders are pure `bytes => Row(metaSchema)`
    * functions with the degrade-to-nulls contract.
    */
  private def attachMeta(df: DataFrame, binCol: String,
                         metaSchema: StructType,
                         decode: Array[Byte] => Row): DataFrame = {
    val outSchema = StructType(df.schema.fields ++ metaSchema.fields)
    val binIdx = df.schema.fieldIndex(binCol)
    val rdd = df.rdd.mapPartitions { rows =>
      rows.map { r =>
        val meta = decode(r.getAs[Array[Byte]](binIdx))
        Row.fromSeq(r.toSeq ++ meta.toSeq)
      }
    }
    df.sparkSession.createDataFrame(rdd, outSchema)
  }

  /** Attach REAL image metadata ([[decodeImage]]) to a DataFrame with
    * a binary column — same Iterator→Iterator per-partition batching
    * contract as [[decodeMeta]]; output schema = input ++
    * [[imageMetaSchema]].
    */
  def decodeImageMeta(df: DataFrame, binCol: String): DataFrame =
    attachMeta(df, binCol, imageMetaSchema, decodeImage)

  /** REAL thumbnail: decode, scale to fit `maxEdge` (aspect preserved,
    * the same integer dimension math as [[resizeMeta]]), re-encode as
    * PNG. Returns null for null/unreadable payloads. Runs inside the
    * caller's per-partition pass — headless-safe (BufferedImage +
    * Graphics2D need no display).
    */
  def thumbnailPng(bytes: Array[Byte], maxEdge: Int): Array[Byte] = {
    if (bytes == null) return null
    try {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      if (img == null) return null
      val (w, h) = (img.getWidth, img.getHeight)
      val longest = math.max(w, h)
      val (ow, oh) =
        if (longest <= maxEdge) (w, h)
        else (w * maxEdge / longest, h * maxEdge / longest)
      val out = new java.awt.image.BufferedImage(
        math.max(ow, 1), math.max(oh, 1),
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val g = out.createGraphics()
      try g.drawImage(img, 0, 0, math.max(ow, 1), math.max(oh, 1), null)
      finally g.dispose()
      val buf = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(out, "png", buf)
      buf.toByteArray
    } catch {
      case scala.util.control.NonFatal(_) => null
    }
  }

  /** Attach a real PNG thumbnail column (plus its dimensions, decoded
    * back from the thumbnail header — self-verifying output) in one
    * per-partition pass.
    */
  def decodeThumbnails(df: DataFrame, binCol: String, maxEdge: Int): DataFrame = {
    val outSchema = StructType(df.schema.fields ++ Seq(
      StructField("thumb_png", BinaryType, nullable = true),
      StructField("thumb_width", IntegerType, nullable = true),
      StructField("thumb_height", IntegerType, nullable = true)))
    val binIdx = df.schema.fieldIndex(binCol)
    val rdd = df.rdd.mapPartitions { rows =>
      rows.map { r =>
        val t = thumbnailPng(r.getAs[Array[Byte]](binIdx), maxEdge)
        val meta = decodeImage(t)
        Row.fromSeq(r.toSeq ++ Seq(t, meta.get(1), meta.get(2)))
      }
    }
    df.sparkSession.createDataFrame(rdd, outSchema)
  }

  /** Declared schema of REAL audio-container metadata ([[decodeWav]]):
    * non-RIFF/WAVE payloads leave every field but n_bytes null.
    */
  val audioMetaSchema: StructType = StructType(Seq(
    StructField("n_bytes", LongType, nullable = true),
    StructField("audio_format", IntegerType, nullable = true),
    StructField("n_channels", IntegerType, nullable = true),
    StructField("sample_rate", IntegerType, nullable = true),
    StructField("bits_per_sample", IntegerType, nullable = true),
    StructField("n_samples", LongType, nullable = true),
    StructField("duration_ms", LongType, nullable = true),
    StructField("container", StringType, nullable = true)
  ))

  /** REAL audio-container parse, JDK-only: WAV is a RIFF container
    * whose `fmt ` chunk carries the full audio header (format tag,
    * channels, sample rate, bits/sample) and whose `data` chunk size
    * gives the per-channel sample count — everything a corpus audit
    * needs (duration, channel layout, PCM-ness) WITHOUT a codec, the
    * same header-only discipline as [[decodeImage]]. Chunk walk honors
    * the RIFF even-byte padding rule and bounds-checks every read;
    * truncated/foreign payloads degrade to (n_bytes, null…) — never a
    * crash. Sample decode (the part that DOES need codec libs for
    * anything beyond raw PCM) stays out of scope, documented at the
    * call sites.
    */
  def decodeWav(bytes: Array[Byte]): Row = {
    if (bytes == null)
      return Row(null, null, null, null, null, null, null, null)
    val n = bytes.length.toLong
    val none = Row(n, null, null, null, null, null, null, null)
    def u16(off: Int): Int =
      (bytes(off) & 0xff) | ((bytes(off + 1) & 0xff) << 8)
    def u32(off: Int): Long =
      (bytes(off) & 0xffL) | ((bytes(off + 1) & 0xffL) << 8) |
        ((bytes(off + 2) & 0xffL) << 16) | ((bytes(off + 3) & 0xffL) << 24)
    def tag(off: Int): String =
      new String(bytes, off, 4, java.nio.charset.StandardCharsets.US_ASCII)
    if (bytes.length < 12 || tag(0) != "RIFF" || tag(8) != "WAVE") return none
    // the walk advances in LONG arithmetic: a declared chunk size near
    // 2^32 (streaming writers emit 0xFFFFFFFF placeholders) would,
    // under Int truncation, go negative and either pin `off` in place
    // (infinite loop — a hung executor task) or index out of bounds
    try {
      var off = 12L
      var fmt: (Int, Int, Int, Int) = null // (format, channels, rate, bits)
      var dataSize = -1L
      while (off + 8 <= bytes.length && (fmt == null || dataSize < 0)) {
        val id = tag(off.toInt)
        val size = u32(off.toInt + 4) // unsigned: 0..2^32-1, never negative
        val body = off + 8
        // first-wins, matching the data chunk below: a malformed file
        // with two fmt chunks must not let the later one overwrite
        if (id == "fmt " && fmt == null && size >= 16 && body + 16 <= bytes.length)
          fmt = (u16(body.toInt), u16(body.toInt + 2),
            u32(body.toInt + 4).toInt, u16(body.toInt + 14))
        else if (id == "data" && dataSize < 0)
          // size is authoritative even when the payload was truncated
          // after the header — the audit wants the DECLARED length
          dataSize = size
        // RIFF pads odd-sized chunks to an even boundary; long math keeps
        // a lying size from ever moving the cursor backwards
        off = body + size + (size & 1)
      }
      if (fmt == null) return none
      val (format, channels, rate, bits) = fmt
      val blockAlign = channels.toLong * bits / 8
      val nSamples: java.lang.Long =
        if (dataSize >= 0 && blockAlign > 0) Long.box(dataSize / blockAlign)
        else null
      val durationMs: java.lang.Long =
        if (nSamples != null && rate > 0) Long.box(nSamples * 1000L / rate)
        else null
      Row(n, format, channels, rate, bits, nSamples, durationMs, "wav")
    } catch {
      // same degrade-to-nulls contract as decodeMp4/decodeImage: a
      // malformed container must never fail (or hang) the task
      case scala.util.control.NonFatal(_) => none
    }
  }

  /** Attach REAL audio-container metadata ([[decodeWav]]) — same
    * Iterator→Iterator per-partition batching contract as
    * [[decodeImageMeta]]; output schema = input ++ [[audioMetaSchema]].
    */
  def decodeAudioMeta(df: DataFrame, binCol: String): DataFrame =
    attachMeta(df, binCol, audioMetaSchema, decodeWav)

  /** Declared schema of REAL PCM sample statistics ([[decodePcmStats]]):
    * non-PCM / malformed payloads leave every field null; an empty
    * data chunk leaves `n_samples` 0 and the ratios null.
    */
  val pcmStatsSchema: StructType = StructType(Seq(
    StructField("n_samples", LongType, nullable = true),
    StructField("peak", DoubleType, nullable = true),
    StructField("rms", DoubleType, nullable = true),
    StructField("dc_offset", DoubleType, nullable = true),
    StructField("clip_ratio", DoubleType, nullable = true),
    StructField("silence_ratio", DoubleType, nullable = true)
  ))

  /** REAL PCM sample decode, JDK-only — the tier above [[decodeWav]]'s
    * header parse: raw PCM needs no codec at all, just the RIFF walk
    * plus little-endian sample math, so peak / RMS / DC-offset /
    * clipping / silence auditing of a WAV corpus runs with zero
    * external libs. (Compressed formats — MP3/AAC/Opus — are the part
    * that genuinely needs codec libs and still degrades to nulls.)
    *
    * Contract:
    *   - uncompressed PCM only (`fmt.audioFormat == 1`), 8-bit
    *     (unsigned, center 128) or 16-bit (signed LE) — the two
    *     encodings WAV corpora overwhelmingly use; other depths /
    *     formats return all-null stats (24/32-bit would overflow the
    *     exact 64-bit accumulators that make these stats
    *     bit-deterministic, see below);
    *   - stats run over ALL interleaved channel samples (a stereo
    *     frame contributes two samples);
    *   - truncated payloads audit what is actually present: samples
    *     read = min(declared data size, bytes available), whole
    *     samples only;
    *   - accumulation is EXACT 64-bit integer (sum, sum-of-squares,
    *     max |v|, threshold counts) with one final float division /
    *     sqrt per stat — bit-identical on any engine and any partition
    *     order, the same order-independence discipline as the
    *     fixed-point `lpq` sums in [[TextStats.lmScore]]. The 16-bit
    *     sum-of-squares bound caps `n_samples` at 2^33 (≈ 27 h of
    *     44.1 kHz stereo); beyond that the ratios degrade to null
    *     rather than silently wrapping;
    *   - thresholds are full-scale-relative integers: clip at
    *     `|v| >= FS - FS/256` (≥ 99.6 % FS), silence at
    *     `|v| <= FS/256`, with FS = 128 (8-bit) / 32768 (16-bit).
    */
  /** PCM payload layout probe shared by the sample-level decoders:
    * `(bits, dataOff, nSamples)` for a decodable PCM WAV, or null for
    * anything the sample tier does not cover. Same LONG-arithmetic
    * chunk walk as [[decodeWav]] (placeholder 0xFFFFFFFF sizes must
    * not pin or reverse the cursor), but this pass also needs the
    * data chunk's OFFSET, not just its declared size.
    */
  private def pcmLayout(bytes: Array[Byte]): (Int, Long, Long) = {
    def u16(off: Int): Int =
      (bytes(off) & 0xff) | ((bytes(off + 1) & 0xff) << 8)
    def u32(off: Int): Long =
      (bytes(off) & 0xffL) | ((bytes(off + 1) & 0xffL) << 8) |
        ((bytes(off + 2) & 0xffL) << 16) | ((bytes(off + 3) & 0xffL) << 24)
    def tag(off: Int): String =
      new String(bytes, off, 4, java.nio.charset.StandardCharsets.US_ASCII)
    if (bytes.length < 12 || tag(0) != "RIFF" || tag(8) != "WAVE") return null
    var off = 12L
    var fmt: (Int, Int) = null // (format, bits)
    var dataOff = -1L
    var dataSize = -1L
    while (off + 8 <= bytes.length && (fmt == null || dataOff < 0)) {
      val id = tag(off.toInt)
      val size = u32(off.toInt + 4)
      val body = off + 8
      if (id == "fmt " && fmt == null && size >= 16 && body + 16 <= bytes.length)
        fmt = (u16(body.toInt), u16(body.toInt + 14))
      else if (id == "data" && dataOff < 0) { dataOff = body; dataSize = size }
      off = body + size + (size & 1)
    }
    if (fmt == null || dataOff < 0) return null
    val (format, bits) = fmt
    if (format != 1 || (bits != 8 && bits != 16)) return null
    val avail = math.max(0L, math.min(dataSize, bytes.length - dataOff))
    val n = avail / (bits / 8) // whole samples actually present
    if (n > (1L << 33)) return null // exact-sumsq bound, documented
    (bits, dataOff, n)
  }

  /** Sample at index `i` (0-based) for a probed [[pcmLayout]]. */
  @inline private def pcmSample(bytes: Array[Byte], bits: Int,
                                dataOff: Long, i: Long): Long = {
    if (bits == 8) (bytes((dataOff + i).toInt) & 0xff).toLong - 128L
    else {
      val o = (dataOff + i * 2).toInt
      ((bytes(o) & 0xff) | (bytes(o + 1) << 8)).toShort.toLong
    }
  }

  def decodePcmStats(bytes: Array[Byte]): Row = {
    val none = Row(null, null, null, null, null, null)
    if (bytes == null) return none
    try {
      val layout = pcmLayout(bytes)
      if (layout == null) return none
      val (bits, dataOff, n) = layout
      if (n == 0) return Row(0L, null, null, null, null, null)
      val fs = if (bits == 8) 128L else 32768L
      val clipThr = fs - (fs >> 8)
      val silThr = fs >> 8
      var i = 0L
      var sum = 0L; var sumSq = 0L; var mx = 0L
      var clipN = 0L; var silN = 0L
      while (i < n) {
        val v = pcmSample(bytes, bits, dataOff, i)
        val a = if (v < 0) -v else v
        sum += v; sumSq += v * v
        if (a > mx) mx = a
        if (a >= clipThr) clipN += 1
        if (a <= silThr) silN += 1
        i += 1
      }
      val nd = n.toDouble
      Row(n, mx.toDouble / fs, math.sqrt(sumSq.toDouble / nd) / fs,
        (sum.toDouble / nd) / fs, clipN.toDouble / nd, silN.toDouble / nd)
    } catch {
      case scala.util.control.NonFatal(_) => none
    }
  }

  /** Declared schema of the frame-energy audit ([[decodePcmFrames]]). */
  val pcmFrameSchema: StructType = StructType(Seq(
    StructField("n_frames", LongType, nullable = true),
    StructField("voiced_frames", LongType, nullable = true),
    StructField("voiced_ratio", DoubleType, nullable = true),
    StructField("longest_voiced_run", LongType, nullable = true)
  ))

  /** Frame-energy / voice-activity audit over REAL PCM samples — the
    * segmentation pass an audio-curation pipeline runs to drop
    * silence-heavy clips and find speech spans: samples split into
    * fixed `frameLen`-sample frames (last frame partial), a frame is
    * "voiced" when its mean square exceeds one third of full scale
    * squared (`3·Σv² > n_f·FS²` — exact integers, no float
    * accumulation), and the audit emits the frame count, voiced
    * count/ratio, and the LONGEST voiced run. The run length falls
    * out of the sequential decode for free — the same statistic in
    * SQL costs two window functions over the frame table (the oracle
    * pays exactly that, documenting the trade). Same coverage /
    * degrade contract as [[decodePcmStats]].
    */
  def decodePcmFrames(frameLen: Int)(bytes: Array[Byte]): Row = {
    // the upper bound keeps the per-frame 3·Σv² test inside exact
    // 64-bit range (frameLen·2^30·3 < 2^63)
    require(frameLen >= 1 && frameLen <= (1 << 20),
      s"frameLen must be in [1, 2^20], got $frameLen")
    val none = Row(null, null, null, null)
    if (bytes == null) return none
    try {
      val layout = pcmLayout(bytes)
      if (layout == null) return none
      val (bits, dataOff, n) = layout
      if (n == 0) return Row(0L, 0L, null, 0L)
      val fs = if (bits == 8) 128L else 32768L
      val fs2 = fs * fs
      var i = 0L
      var nFrames = 0L; var voiced = 0L
      var run = 0L; var bestRun = 0L
      while (i < n) {
        val end = math.min(i + frameLen, n)
        var ss = 0L
        var j = i
        while (j < end) {
          val v = pcmSample(bytes, bits, dataOff, j)
          ss += v * v; j += 1
        }
        nFrames += 1
        if (3L * ss > (end - i) * fs2) {
          voiced += 1; run += 1
          if (run > bestRun) bestRun = run
        } else run = 0L
        i = end
      }
      Row(nFrames, voiced, voiced.toDouble / nFrames, bestRun)
    } catch {
      case scala.util.control.NonFatal(_) => none
    }
  }

  /** Canonical 44-byte-header WAV writer (16-bit PCM LE, the
    * ubiquitous layout) — the sample-level twin of the header parsers
    * above, used by the synth→decode round-trip and the specs. Values
    * outside Short range clamp (deterministically) rather than wrap.
    */
  def wavBytes(samples: Array[Int], sampleRate: Int = 8000,
               channels: Int = 1): Array[Byte] = {
    val dataSize = samples.length * 2
    val b = java.nio.ByteBuffer.allocate(44 + dataSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataSize)
      .put("WAVE".getBytes("US-ASCII"))
    b.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(channels.toShort).putInt(sampleRate)
      .putInt(sampleRate * channels * 2) // byte rate
      .putShort((channels * 2).toShort)  // block align
      .putShort(16)
    b.put("data".getBytes("US-ASCII")).putInt(dataSize)
    var i = 0
    while (i < samples.length) {
      val v = samples(i)
      b.putShort(
        (if (v < Short.MinValue) Short.MinValue
         else if (v > Short.MaxValue) Short.MaxValue else v).toShort)
      i += 1
    }
    b.array()
  }

  /** Synth→decode PCM round-trip: write each row's int-array sample
    * column into a REAL 16-bit WAV ([[wavBytes]]), then REALLY parse
    * it back ([[decodePcmStats]]) — output schema = input ++
    * [[pcmStatsSchema]]. Because the sample derivation is
    * expression-level (oracle-reproducible) while the bytes in the
    * middle pass through the genuine writer + parser, putting this
    * under the DuckDB hash gate proves the binary codec path itself:
    * any header-layout or sample-math bug breaks the hash. Null
    * sample arrays decode to all-null stats (the null-payload
    * contract); empty arrays to (0, null…).
    */
  def synthWavStats(df: DataFrame, samplesCol: String,
                    sampleRate: Int = 8000): DataFrame =
    synthWavDecode(df, samplesCol, pcmStatsSchema, decodePcmStats, sampleRate)

  /** [[synthWavStats]]'s frame-energy sibling: write, REALLY parse,
    * emit [[pcmFrameSchema]] via [[decodePcmFrames]].
    */
  def synthWavFrames(df: DataFrame, samplesCol: String, frameLen: Int,
                     sampleRate: Int = 8000): DataFrame =
    synthWavDecode(df, samplesCol, pcmFrameSchema, decodePcmFrames(frameLen),
      sampleRate)

  private def synthWavDecode(df: DataFrame, samplesCol: String,
                             schema: StructType,
                             decode: Array[Byte] => Row,
                             sampleRate: Int): DataFrame = {
    val outSchema = StructType(df.schema.fields ++ schema.fields)
    val idx = df.schema.fieldIndex(samplesCol)
    val rdd = df.rdd.mapPartitions { rows =>
      rows.map { r =>
        val s = r.getAs[scala.collection.Seq[Int]](idx)
        val stats =
          if (s == null) decode(null)
          else decode(wavBytes(s.toArray, sampleRate))
        Row.fromSeq(r.toSeq ++ stats.toSeq)
      }
    }
    df.sparkSession.createDataFrame(rdd, outSchema)
  }

  /** Declared schema of REAL pixel statistics ([[decodeImagePixels]]):
    * unreadable payloads leave every field null; a 0-pixel image
    * leaves the dims and `n_pixels` 0 and the ratios null.
    */
  val imageStatsSchema: StructType = StructType(Seq(
    StructField("width", IntegerType, nullable = true),
    StructField("height", IntegerType, nullable = true),
    StructField("n_pixels", LongType, nullable = true),
    StructField("mean_r", DoubleType, nullable = true),
    StructField("mean_g", DoubleType, nullable = true),
    StructField("mean_b", DoubleType, nullable = true),
    StructField("dark_ratio", DoubleType, nullable = true)
  ))

  /** REAL pixel decode — the tier above [[decodeImage]]'s header
    * parse: a full `ImageIO` pixel read (PNG/BMP/GIF exact; JPEG
    * whatever the JDK decoder yields) feeding channel means and a
    * Rec.709-luma dark-pixel ratio, the exposure/garbage audit an
    * image corpus runs before training. The accumulation discipline
    * is [[decodePcmStats]]'s: EXACT 64-bit integer channel sums and
    * an integer luma test (`2126·r + 7152·g + 722·b < 128·10⁴` — the
    * Rec.709 coefficients scaled to integers), one float division
    * per emitted stat, so results are bit-deterministic wherever the
    * pixel values themselves are. Unreadable payloads degrade to
    * nulls, never fail the task.
    */
  def decodeImagePixels(bytes: Array[Byte]): Row = {
    val none = Row(null, null, null, null, null, null, null)
    if (bytes == null) return none
    try {
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bytes))
      if (img == null) return none
      val w = img.getWidth
      val h = img.getHeight
      val n = w.toLong * h
      if (n == 0) return Row(w, h, 0L, null, null, null, null)
      if (n > (1L << 33)) return none // exact-sum bound, same as PCM
      var sr = 0L; var sg = 0L; var sb = 0L; var dark = 0L
      // bulk row reads: one getRGB(row) call converts a whole scanline
      // through the ColorModel instead of a per-pixel virtual call +
      // bounds check (identical ARGB values; the full-scan stats path
      // is the only decoder that touches every pixel)
      val rowBuf = new Array[Int](w)
      var y = 0
      while (y < h) {
        img.getRGB(0, y, w, 1, rowBuf, 0, w)
        var x = 0
        while (x < w) {
          val p = rowBuf(x)
          val r = (p >> 16) & 0xff
          val g = (p >> 8) & 0xff
          val b = p & 0xff
          sr += r; sg += g; sb += b
          if (2126L * r + 7152L * g + 722L * b < 1280000L) dark += 1
          x += 1
        }
        y += 1
      }
      val nd = n.toDouble
      Row(w, h, n, sr.toDouble / nd, sg.toDouble / nd, sb.toDouble / nd,
        dark.toDouble / nd)
    } catch {
      case scala.util.control.NonFatal(_) => none
    }
  }

  /** Canonical uncompressed 24-bpp BMP writer (BITMAPINFOHEADER,
    * bottom-up BGR rows, 4-byte stride padding) — the image twin of
    * [[wavBytes]]: a deterministic, byte-exact container for the
    * synth→decode round-trip and the specs. `rgb` is row-major
    * `0xRRGGBB`.
    */
  def bmpBytes(rgb: Array[Int], width: Int): Array[Byte] = {
    require(width >= 1 && rgb.length % width == 0,
      s"rgb length ${rgb.length} must be a positive multiple of width $width")
    val h = rgb.length / width
    val stride = (width * 3 + 3) & ~3
    val dataSize = stride * h
    val b = java.nio.ByteBuffer.allocate(54 + dataSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put('B'.toByte).put('M'.toByte).putInt(54 + dataSize)
      .putInt(0).putInt(54)
    b.putInt(40).putInt(width).putInt(h).putShort(1).putShort(24)
      .putInt(0).putInt(dataSize).putInt(2835).putInt(2835)
      .putInt(0).putInt(0)
    var y = h - 1 // bottom-up
    while (y >= 0) {
      var x = 0
      while (x < width) {
        val p = rgb(y * width + x)
        b.put((p & 0xff).toByte)
          .put(((p >> 8) & 0xff).toByte)
          .put(((p >> 16) & 0xff).toByte)
        x += 1
      }
      var pad = stride - width * 3
      while (pad > 0) { b.put(0.toByte); pad -= 1 }
      y -= 1
    }
    b.array()
  }

  /** Synth→decode image round-trip ([[synthWavStats]]'s image twin):
    * each row's `0xRRGGBB` int-array column becomes a REAL 1-row-high
    * BMP ([[bmpBytes]]) and is REALLY pixel-decoded back through
    * `ImageIO` ([[decodeImagePixels]]) — output schema = input ++
    * [[imageStatsSchema]]. Under the hash gate this proves the BMP
    * layout and the pixel read agree byte-for-byte with the oracle's
    * analytic expectation. Null arrays decode to all-null stats;
    * empty arrays too (a 0-width BMP cannot exist).
    */
  def synthBmpStats(df: DataFrame, pixelsCol: String): DataFrame = {
    val outSchema = StructType(df.schema.fields ++ imageStatsSchema.fields)
    val idx = df.schema.fieldIndex(pixelsCol)
    val rdd = df.rdd.mapPartitions { rows =>
      rows.map { r =>
        val s = r.getAs[scala.collection.Seq[Int]](idx)
        val stats =
          if (s == null || s.isEmpty) decodeImagePixels(null)
          else decodeImagePixels(bmpBytes(s.toArray, s.length))
        Row.fromSeq(r.toSeq ++ stats.toSeq)
      }
    }
    df.sparkSession.createDataFrame(rdd, outSchema)
  }

  /** Declared schema of the REAL perceptual fingerprint
    * ([[decodeImageDHash]]): unreadable payloads leave both fields
    * null; a readable 0-pixel image leaves `n_pixels` 0, `dhash` null.
    */
  val imageDHashSchema: StructType = StructType(Seq(
    StructField("n_pixels", LongType, nullable = true),
    StructField("dhash", LongType, nullable = true)
  ))

  /** 63-bit sequence-sampled difference hash — the perceptual
    * fingerprint behind image near-dup dedup (the "dHash" of Krawetz,
    * "Kind of Like That", hackerfactor.com 2013, which resizes to a
    * 9x8 grid and emits gradient signs; here the grid is 64 positions
    * sampled evenly over the ROW-MAJOR luminance sequence, which keeps
    * the hash scale-invariant for our 1-row synthetic corpus AND
    * well-defined for any real decoded image). Bit i (0..62) is set
    * iff lum(pos(i+1)) > lum(pos(i)) with pos(i) = floor(i*n/64), so
    * the top bit of the Long is always clear — band arithmetic never
    * meets the sign bit. Luminance is the exact integer Rec.709 form
    * `2126*r + 7152*g + 722*b` ([[decodeImagePixels]]'s dark test),
    * so the hash is bit-deterministic wherever pixels are.
    *
    * `lumAt` fetches only the 64 sampled positions — O(64) pixel
    * reads per image regardless of size, no luminance array ever
    * materializes.
    */
  private def dhash63(n: Long, lumAt: Long => Long): Long = {
    var h = 0L
    var prev = lumAt(0L)
    var i = 0
    while (i < 63) {
      val cur = lumAt((i + 1).toLong * n / 64)
      if (cur > prev) h |= (1L << i)
      prev = cur
      i += 1
    }
    h
  }

  /** REAL perceptual-hash decode: full `ImageIO` pixel read feeding
    * [[dhash63]] over the row-major integer luminance sequence.
    * Unreadable payloads degrade to nulls, never fail the task.
    */
  def decodeImageDHash(bytes: Array[Byte]): Row = {
    val none = Row(null, null)
    if (bytes == null) return none
    try {
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bytes))
      if (img == null) return none
      val w = img.getWidth
      val n = w.toLong * img.getHeight
      if (n == 0) return Row(0L, null)
      def lumAt(pos: Long): Long = {
        val p = img.getRGB((pos % w).toInt, (pos / w).toInt)
        2126L * ((p >> 16) & 0xff) + 7152L * ((p >> 8) & 0xff) +
          722L * (p & 0xff)
      }
      Row(n, dhash63(n, lumAt))
    } catch {
      case scala.util.control.NonFatal(_) => none
    }
  }

  /** Synth→decode perceptual-hash round-trip ([[synthBmpStats]]'s
    * fingerprint twin): each row's `0xRRGGBB` int-array column becomes
    * a REAL 1-row-high BMP ([[bmpBytes]]) and is REALLY pixel-decoded
    * back through `ImageIO` into [[decodeImageDHash]] — under the hash
    * gate this proves the whole codec+sampling path against the
    * oracle's analytic hash. Null/empty arrays decode to null stats.
    */
  def synthBmpDHash(df: DataFrame, pixelsCol: String): DataFrame = {
    val outSchema = StructType(df.schema.fields ++ imageDHashSchema.fields)
    val idx = df.schema.fieldIndex(pixelsCol)
    val rdd = df.rdd.mapPartitions { rows =>
      rows.map { r =>
        val s = r.getAs[scala.collection.Seq[Int]](idx)
        val stats =
          if (s == null || s.isEmpty) decodeImageDHash(null)
          else decodeImageDHash(bmpBytes(s.toArray, s.length))
        Row.fromSeq(r.toSeq ++ stats.toSeq)
      }
    }
    df.sparkSession.createDataFrame(rdd, outSchema)
  }

  /** Declared schema of REAL video-container metadata ([[decodeMp4]]):
    * non-ISO-BMFF payloads leave every field but n_bytes null.
    */
  val videoMetaSchema: StructType = StructType(Seq(
    StructField("n_bytes", LongType, nullable = true),
    StructField("major_brand", StringType, nullable = true),
    StructField("timescale", IntegerType, nullable = true),
    StructField("duration_ms", LongType, nullable = true),
    StructField("n_tracks", IntegerType, nullable = true),
    StructField("width", IntegerType, nullable = true),
    StructField("height", IntegerType, nullable = true),
    StructField("container", StringType, nullable = true)
  ))

  /** REAL video-container parse, JDK-only: MP4/MOV is an ISO-BMFF box
    * tree whose `moov/mvhd` carries the movie timescale + duration and
    * whose `moov/trak/tkhd` boxes carry per-track 16.16 fixed-point
    * display dimensions — the duration/resolution/track-count audit a
    * video corpus needs WITHOUT a codec (same header-only tier as
    * [[decodeWav]] / [[decodeImage]]). Box walk handles 32-bit and
    * 64-bit (`size == 1` largesize) boxes and v0/v1 full-box layouts,
    * bounds-checks every read, and requires a leading `ftyp` (the
    * ISO-BMFF magic); anything else degrades to (n_bytes, nulls).
    * Width/height come from the first track with nonzero dims (audio
    * tracks carry zeros). Frame/sample DECODE stays stubbed — that is
    * the part that genuinely needs codec libs.
    */
  def decodeMp4(bytes: Array[Byte]): Row = {
    if (bytes == null)
      return Row(null, null, null, null, null, null, null, null)
    val n = bytes.length.toLong
    val none = Row(n, null, null, null, null, null, null, null)
    def u16(o: Int): Int = ((bytes(o) & 0xff) << 8) | (bytes(o + 1) & 0xff)
    def u32(o: Int): Long =
      ((bytes(o) & 0xffL) << 24) | ((bytes(o + 1) & 0xffL) << 16) |
        ((bytes(o + 2) & 0xffL) << 8) | (bytes(o + 3) & 0xffL)
    def u64(o: Int): Long = (u32(o) << 32) | u32(o + 4)
    def tag(o: Int): String =
      new String(bytes, o, 4, java.nio.charset.StandardCharsets.US_ASCII)
    if (bytes.length < 12 || u32(0) < 8 || tag(4) != "ftyp") return none
    val brand = tag(8)
    var timescale: java.lang.Integer = null
    var durationMs: java.lang.Long = null
    var nTracks = 0
    var width: java.lang.Integer = null
    var height: java.lang.Integer = null
    // returns (bodyStart, boxEnd) or null when the header is truncated
    def box(o: Int, limit: Int): (Int, Int) = {
      if (o + 8 > limit) return null
      var size = u32(o)
      var body = o + 8
      if (size == 1) {
        if (o + 16 > limit) return null
        size = u64(o + 8); body = o + 16
      } else if (size == 0) size = (limit - o).toLong // box runs to EOF
      if (size < (body - o) || o + size > limit) return null
      (body, o + size.toInt)
    }
    def walkTrak(o0: Int, limit: Int): Unit = {
      var o = o0
      var b = box(o, limit)
      while (b != null) {
        val (body, end) = b
        if (tag(o + 4) == "tkhd" && body + 4 <= limit) {
          val v = bytes(body) & 0xff
          // v0: 4 flags+ver, 4+4 times, 4 id, 4 rsvd, 4 dur = 24 to the
          // post-duration block; v1 widens the times + duration to 64-bit
          val post = if (v == 1) body + 4 + 8 + 8 + 4 + 4 + 8
                     else body + 4 + 4 + 4 + 4 + 4 + 4
          // post-duration block: 8 rsvd, 2 layer, 2 alt, 2 vol, 2 rsvd,
          // 36 matrix, then width/height as 16.16 fixed point
          val dims = post + 8 + 2 + 2 + 2 + 2 + 36
          if (dims + 8 <= limit && dims + 8 <= end) {
            val w = (u32(dims) >> 16).toInt
            val h = (u32(dims + 4) >> 16).toInt
            if (w > 0 && h > 0 && width == null) { width = w; height = h }
          }
        }
        o = end; b = box(o, limit)
      }
    }
    def walkMoov(o0: Int, limit: Int): Unit = {
      var o = o0
      var b = box(o, limit)
      while (b != null) {
        val (body, end) = b
        tag(o + 4) match {
          case "mvhd" if body + 4 <= limit =>
            val v = bytes(body) & 0xff
            if (v == 1 && body + 32 <= limit) {
              val ts = u32(body + 20).toInt
              val dur = u64(body + 24)
              timescale = ts
              if (ts > 0) durationMs = Long.box(dur * 1000L / ts)
            } else if (v == 0 && body + 20 <= limit) {
              val ts = u32(body + 12).toInt
              val dur = u32(body + 16)
              timescale = ts
              if (ts > 0) durationMs = Long.box(dur * 1000L / ts)
            }
          case "trak" =>
            nTracks += 1
            walkTrak(body, end)
          case _ => ()
        }
        o = end; b = box(o, limit)
      }
    }
    try {
      var o = 0
      var b = box(o, bytes.length)
      while (b != null) {
        val (body, end) = b
        if (tag(o + 4) == "moov") walkMoov(body, end)
        o = end; b = box(o, bytes.length)
      }
      if (timescale == null && nTracks == 0) none
      else Row(n, brand, timescale, durationMs,
        Int.box(nTracks), width, height, "mp4")
    } catch {
      case scala.util.control.NonFatal(_) => none
    }
  }

  /** Attach REAL video-container metadata ([[decodeMp4]]) — same
    * Iterator→Iterator per-partition batching contract as
    * [[decodeImageMeta]]/[[decodeAudioMeta]]; output schema = input ++
    * [[videoMetaSchema]].
    */
  def decodeVideoMeta(df: DataFrame, binCol: String): DataFrame =
    attachMeta(df, binCol, videoMetaSchema, decodeMp4)

  /** Canonical ISO-BMFF writer — [[decodeMp4]]'s byte-level twin and
    * the video leg of the synth→decode round-trip ([[wavBytes]] /
    * [[bmpBytes]] are the audio/image legs). Emits a spec-conformant
    * v0 box tree: `ftyp` (16 B: size, tag, major brand, minor 0), then
    * `moov` containing one `mvhd` (108 B: timescale, duration, unity
    * rate/volume, identity matrix) and one `trak`/`tkhd` (100 B each)
    * per entry of `dims` — a `(0,0)` entry is a sound track (tkhd
    * carries zero display dims, the real-file convention), a nonzero
    * entry a video track with 16.16 fixed-point width/height. Total
    * size is therefore exactly `132 + 100 * dims.length` — the
    * analytic handle the oracle recomputes. Duration is written as the
    * v0 u32 field (ENFORCED below 2^32 — out-of-range fails loudly
    * rather than silently wrapping; the PARSER additionally handles
    * v1/64-bit files this writer never produces).
    */
  def mp4Bytes(timescale: Int, durationUnits: Long,
               dims: Array[(Int, Int)], brand: String = "isom"): Array[Byte] = {
    require(brand.length == 4, s"major brand must be 4 ASCII chars: $brand")
    // the v0 u32 duration field cannot hold more — fail loudly instead
    // of writing wrapped bits the oracle's untruncated BIGINT never sees
    require(durationUnits >= 0 && durationUnits < (1L << 32),
      s"durationUnits must fit the v0 u32 field: $durationUnits")
    val b = java.nio.ByteBuffer.allocate(132 + 100 * dims.length)
      .order(java.nio.ByteOrder.BIG_ENDIAN) // ISO-BMFF is big-endian
    def ascii(s: String): Unit = { b.put(s.getBytes("US-ASCII")); () }
    // identity transform matrix: 16.16 units on the diagonal, 2.30 'w'
    def matrix(): Unit = {
      b.putInt(0x00010000).putInt(0).putInt(0)
      b.putInt(0).putInt(0x00010000).putInt(0)
      b.putInt(0).putInt(0).putInt(0x40000000); ()
    }
    b.putInt(16); ascii("ftyp"); ascii(brand); b.putInt(0)
    b.putInt(8 + 108 + 100 * dims.length); ascii("moov")
    b.putInt(108); ascii("mvhd"); b.putInt(0) // version 0, flags 0
    b.putInt(0).putInt(0)                     // creation, modification
    b.putInt(timescale).putInt(durationUnits.toInt)
    b.putInt(0x00010000)                      // rate 1.0
    b.putShort(0x0100.toShort).putShort(0)    // volume 1.0, reserved
    b.putLong(0L)                             // reserved
    matrix()
    (0 until 6).foreach(_ => b.putInt(0))     // pre_defined
    b.putInt(dims.length + 1)                 // next_track_ID
    dims.zipWithIndex.foreach { case ((w, h), i) =>
      b.putInt(100); ascii("trak")
      b.putInt(92); ascii("tkhd"); b.putInt(7) // v0, enabled|in-movie|preview
      b.putInt(0).putInt(0)                    // creation, modification
      b.putInt(i + 1).putInt(0)                // track_ID, reserved
      b.putInt(durationUnits.toInt)            // duration (movie units)
      b.putLong(0L)                            // reserved
      b.putShort(0).putShort(0)                // layer, alternate_group
      b.putShort(if (w > 0) 0 else 0x0100.toShort) // volume: audio 1.0
      b.putShort(0)                            // reserved
      matrix()
      b.putInt(w << 16).putInt(h << 16)        // 16.16 display dims
    }
    b.array()
  }

  /** Synth→decode video round-trip: write each row's expression-level
    * container parameters into a REAL ISO-BMFF file ([[mp4Bytes]]) and
    * REALLY box-walk it back ([[decodeMp4]]) — output schema = input ++
    * [[videoMetaSchema]], the same prove-the-codec-under-the-hash-gate
    * shape as [[synthWavStats]]/[[synthBmpStats]]. Track layout: the
    * first `nTracks - 1` tracks are SOUND tracks (zero tkhd dims), the
    * video track is written LAST — so the parser's zero-dim skip sits
    * under the gate, not just the happy path. A null brand (the null
    * fixture arm) yields a null payload → all-null meta.
    */
  def synthMp4Meta(df: DataFrame, tsCol: String, durCol: String,
                   nTracksCol: String, wCol: String, hCol: String,
                   brandCol: String): DataFrame = {
    val outSchema = StructType(df.schema.fields ++ videoMetaSchema.fields)
    val (tsI, durI, ntI, wI, hI, brI) =
      (df.schema.fieldIndex(tsCol), df.schema.fieldIndex(durCol),
        df.schema.fieldIndex(nTracksCol), df.schema.fieldIndex(wCol),
        df.schema.fieldIndex(hCol), df.schema.fieldIndex(brandCol))
    val rdd = df.rdd.mapPartitions { rows =>
      rows.map { r =>
        val payload: Array[Byte] =
          if (r.isNullAt(brI)) null
          else {
            val nt = r.getInt(ntI)
            val dims = Array.fill(math.max(0, nt - 1))((0, 0)) :+
              (r.getInt(wI), r.getInt(hI))
            mp4Bytes(r.getInt(tsI), r.getLong(durI), dims, r.getString(brI))
          }
        Row.fromSeq(r.toSeq ++ decodeMp4(payload).toSeq)
      }
    }
    df.sparkSession.createDataFrame(rdd, outSchema)
  }

  /** REAL generic decode to the compact media-meta shape
    * ([[mediaMetaSchema]]) a mixed lake routes on — the [[sniffMedia]]
    * dispatch folded to four columns. `n_bytes` always fills (no codec
    * needed). `n_frames` is real per modality: a still image IS one
    * frame (its header dims fill width/height); an audio clip's frames
    * are its PCM sample frames (javax.sound's frame = one sample
    * across all channels, so a mono WAV has n_frames = n_samples); a
    * video container surfaces its real display dims but — our writer
    * emits no sample tables — an honestly-null frame count; unknown
    * payloads leave everything but n_bytes null; null payloads stay
    * all-null. Replaced the retired stub tier: every container this
    * engine sniffs it also writes for real, so the compact decode runs
    * on genuine bytes end to end.
    */
  def decodeMedia(bytes: Array[Byte]): Row = {
    if (bytes == null) return Row(null, null, null, null)
    val s = sniffMedia(bytes)
    s.getString(0) match {
      case "audio" =>
        val nf = if (s.isNullAt(5)) null else Int.box(s.getLong(5).toInt)
        Row(s.get(1), null, null, nf)
      case "image" => Row(s.get(1), s.get(2), s.get(3), Int.box(1))
      case "video" => Row(s.get(1), s.get(2), s.get(3), null)
      case _       => Row(s.get(1), null, null, null)
    }
  }

  /** Attach [[decodeMedia]] metadata to a DataFrame with a binary
    * column. Batched per partition; output schema = input ++
    * [[mediaMetaSchema]].
    */
  def decodeMeta(df: DataFrame, binCol: String): DataFrame =
    attachMeta(df, binCol, mediaMetaSchema, decodeMedia)

  /** Declared schema of the sniffed-media dispatch ([[sniffMedia]]):
    * per-kind fields null where not applicable; a null payload leaves
    * every field (kind included) null.
    */
  val sniffMetaSchema: StructType = StructType(Seq(
    StructField("kind", StringType, nullable = true),
    StructField("n_bytes", LongType, nullable = true),
    StructField("width", IntegerType, nullable = true),
    StructField("height", IntegerType, nullable = true),
    StructField("sample_rate", IntegerType, nullable = true),
    StructField("n_samples", LongType, nullable = true),
    StructField("duration_ms", LongType, nullable = true)
  ))

  /** REAL-decoder media dispatch — the single entry point a mixed
    * corpus runs: magic-byte sniff, then the matching REAL parser
    * (RIFF/WAVE → [[decodeWav]], ISO-BMFF → [[decodeMp4]], anything an
    * installed ImageIO reader recognizes → [[decodeImage]]); payloads
    * nothing recognizes surface as `kind = 'unknown'` with their byte
    * length — never a crash, never the stub's fake dimensions (the
    * stub remains only for the oracle-plumbing query). One common
    * schema so the dispatch composes with groupBy("kind") routing.
    */
  def sniffMedia(bytes: Array[Byte]): Row = {
    if (bytes == null) return Row(null, null, null, null, null, null, null)
    val n = bytes.length.toLong
    def tag(o: Int): String =
      new String(bytes, o, 4, java.nio.charset.StandardCharsets.US_ASCII)
    if (n >= 12 && tag(0) == "RIFF" && tag(8) == "WAVE") {
      val w = decodeWav(bytes) // (n_bytes, fmt, ch, rate, bits, n_samples, dur, container)
      Row("audio", n, null, null, w.get(3), w.get(5), w.get(6))
    } else if (n >= 12 && tag(4) == "ftyp") {
      val v = decodeMp4(bytes) // (n_bytes, brand, timescale, dur, n_tracks, w, h, container)
      Row("video", n, v.get(5), v.get(6), null, null, v.get(3))
    } else {
      val im = decodeImage(bytes) // (n_bytes, width, height, channels, format)
      if (im.get(1) != null) Row("image", n, im.get(1), im.get(2), null, null, null)
      else Row("unknown", n, null, null, null, null, null)
    }
  }

  /** Attach [[sniffMedia]] dispatch metadata — same Iterator→Iterator
    * per-partition contract as the single-codec attachers; output
    * schema = input ++ [[sniffMetaSchema]].
    */
  def sniffMeta(df: DataFrame, binCol: String): DataFrame =
    attachMeta(df, binCol, sniffMetaSchema, sniffMedia)

  /** Mixed-payload synthesis for the sniff audit: per row, `selCol`
    * picks the container — 0 writes the samples column into a REAL
    * 16-bit WAV ([[wavBytes]]), 1 writes the pixels column into a REAL
    * 24-bpp BMP ([[bmpBytes]]), anything else emits the raw UTF-8 text
    * bytes (no container — the unknown-payload arm). A null text (or,
    * for the BMP arm, an empty pixel array — a 0-width BMP cannot
    * exist) yields a null payload. Adds a `payload` binary column.
    */
  def synthMedia(df: DataFrame, selCol: String, samplesCol: String,
                 pixelsCol: String, textCol: String,
                 sampleRate: Int = 8000): DataFrame = {
    val outSchema = StructType(df.schema.fields :+
      StructField("payload", BinaryType, nullable = true))
    val selIdx = df.schema.fieldIndex(selCol)
    val samIdx = df.schema.fieldIndex(samplesCol)
    val pixIdx = df.schema.fieldIndex(pixelsCol)
    val txtIdx = df.schema.fieldIndex(textCol)
    val rdd = df.rdd.mapPartitions { rows =>
      rows.map { r =>
        val payload: Array[Byte] =
          if (r.isNullAt(txtIdx)) null
          else r.getInt(selIdx) match {
            case 0 =>
              val s = r.getAs[scala.collection.Seq[Int]](samIdx)
              wavBytes(if (s == null) Array.empty else s.toArray, sampleRate)
            case 1 =>
              val p = r.getAs[scala.collection.Seq[Int]](pixIdx)
              if (p == null || p.isEmpty) null
              else bmpBytes(p.toArray, p.length)
            case _ => r.getString(txtIdx).getBytes("UTF-8")
          }
        Row.fromSeq(r.toSeq :+ payload)
      }
    }
    df.sparkSession.createDataFrame(rdd, outSchema)
  }

  /** Metadata-level resize-to-fit (max edge), aspect preserved with
    * integer arithmetic — deterministic in any engine. The dimension
    * CONTRACT of the real pixel resize ([[thumbnailPng]] /
    * [[decodeThumbnails]] use the same math on actual images); on a
    * catalog this computes target dims without touching payloads,
    * composing with the real header decode ([[decodeImageMeta]]'s
    * width/height columns).
    */
  def resizeMeta(df: DataFrame, maxEdge: Int): DataFrame = {
    val longest = greatest(col("width"), col("height"))
    val scaleNum = lit(maxEdge)
    df.withColumn("out_width",
        when(longest <= maxEdge, col("width"))
          .otherwise((col("width") * scaleNum / longest).cast("int")))
      .withColumn("out_height",
        when(longest <= maxEdge, col("height"))
          .otherwise((col("height") * scaleNum / longest).cast("int")))
  }

  /** Declared schema of REAL sampled PCM frames
    * ([[synthWavSampleFrames]]): one row per KEPT frame, every field
    * computed from the actual container bytes.
    */
  val wavFrameSampleSchema: StructType = StructType(Seq(
    StructField("frame_idx", LongType, nullable = false),
    StructField("frame_n", IntegerType, nullable = false),
    StructField("frame_energy", LongType, nullable = false),
    StructField("frame_peak", LongType, nullable = false)
  ))

  /** REAL frame sampling — the row-explosion path over genuine PCM
    * frames (replaces the retired synthetic-geometry explosion): each
    * samples column becomes a REAL 16-bit WAV ([[wavBytes]]), the
    * decoder walks its `frameLen`-sample frames from the parsed
    * layout, keeps every `everyK`-th frame, and emits one row per
    * kept frame with measurements computed from the ACTUAL bytes —
    * sample count, exact integer energy (Σv², 64-bit-safe for
    * frameLen ≤ 2^20), peak |v|. A null samples column or a 0-sample
    * clip contributes no rows: this is the corpus FRAME table a
    * sampled featurization pass feeds from (the per-doc report shape
    * is [[synthWavFrames]]). Same Iterator→Iterator per-partition
    * contract as every decoder here; frames of one clip never span
    * tasks.
    */
  def synthWavSampleFrames(df: DataFrame, samplesCol: String,
                           frameLen: Int, everyK: Int,
                           sampleRate: Int = 8000): DataFrame = {
    require(frameLen >= 1 && frameLen <= (1 << 20),
      s"frameLen must be in [1, 2^20], got $frameLen")
    require(everyK >= 1, s"everyK must be >= 1, got $everyK")
    val outSchema = StructType(df.schema.fields ++ wavFrameSampleSchema.fields)
    val idx = df.schema.fieldIndex(samplesCol)
    val rdd = df.rdd.mapPartitions { rows =>
      rows.flatMap { r =>
        val s = r.getAs[scala.collection.Seq[Int]](idx)
        if (s == null) Iterator.empty
        else {
          val bytes = wavBytes(s.toArray, sampleRate)
          val layout = pcmLayout(bytes)
          if (layout == null) Iterator.empty // our writer always parses
          else {
            val (bits, dataOff, n) = layout
            val nFrames = if (n == 0) 0L else (n + frameLen - 1) / frameLen
            (0L until nFrames by everyK.toLong).iterator.map { f =>
              val start = f * frameLen
              val end = math.min(start + frameLen, n)
              var ss = 0L; var peak = 0L
              var j = start
              while (j < end) {
                val v = pcmSample(bytes, bits, dataOff, j)
                ss += v * v
                val a = math.abs(v); if (a > peak) peak = a
                j += 1
              }
              Row.fromSeq(r.toSeq ++ Seq(Long.box(f),
                Int.box((end - start).toInt), Long.box(ss), Long.box(peak)))
            }
          }
        }
      }
    }
    df.sparkSession.createDataFrame(rdd, outSchema)
  }
}
