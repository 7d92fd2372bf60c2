package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing for training-data pipelines: media payloads
  * travel as opaque `binary` columns with typed metadata. Header-level
  * introspection (pure byte arithmetic) runs as a native Catalyst
  * expression ([[graft.functions.MediaFunctions.ImageHeader]]) so it
  * composes into whole-stage codegen; a REAL pixel codec (heavy native
  * library, batch-amortized init) would instead run partition-wise
  * (`mapPartitions` — the Scala analog of `mapInPandas`), which is the
  * shape a codec swap-in would take.
  *
  * Image DIMENSION decode is REAL for the two formats that matter: JPEG
  * (SOFn segment walk) and PNG (IHDR chunk) are parsed by pure byte
  * arithmetic ([[parseImageHeader]]) — no codec library is needed for
  * width/height/channels. Payloads that are neither fall back to
  * `decodeStub` (deterministic fake, loudly documented): full pixel codecs
  * don't exist in this environment, but the partition-wise contract —
  * schema, batch shape, null handling — is real and is what a codec
  * swap-in would inherit.
  */
object Multimodal {

  /** STUB decode for payloads that are neither JPEG nor PNG: deterministic
    * fake dimensions from payload size. A real deployment replaces ONLY
    * this function with a codec call; everything else in the pipeline is
    * unchanged.
    */
  private[ops] def decodeStub(payload: Array[Byte]): (Int, Int, Int) = {
    val n = payload.length
    (64 + (n % 512), 64 + ((n / 7) % 512), 3)
  }

  /** REAL image header parse — width/height/channels by byte arithmetic,
    * no codec library. Layouts from the public specs:
    *   - PNG: 8-byte signature, then the IHDR chunk (must be first): length
    *     + "IHDR" + width/height as big-endian int32 + bit depth + color
    *     type; channels derive from the color type (0 gray=1, 2 RGB=3,
    *     3 palette=1, 4 gray+alpha=2, 6 RGBA=4).
    *   - JPEG: FFD8 start-of-image, then a segment walk (each segment
    *     FF‑marker + big-endian length including itself) skipping APPn /
    *     quantization / etc. until a SOFn frame header: precision(1),
    *     height(2), width(2), component count(1). The walk is required —
    *     real files put APP0/EXIF blocks of arbitrary length first.
    * Returns None when the payload is neither (caller falls back to the
    * stub) or the structure is truncated/corrupt.
    */
  private[graft] def parseImageHeader(p: Array[Byte]): Option[(Int, Int, Int)] = {
    @inline def u8(i: Int): Int = p(i) & 0xff
    @inline def u16(i: Int): Int = (u8(i) << 8) | u8(i + 1)
    @inline def i32(i: Int): Int =
      (u8(i) << 24) | (u8(i + 1) << 16) | (u8(i + 2) << 8) | u8(i + 3)
    if (p.length >= 26 && u8(0) == 0x89 && u8(1) == 'P'.toInt &&
        u8(2) == 'N'.toInt && u8(3) == 'G'.toInt &&
        u8(12) == 'I'.toInt && u8(13) == 'H'.toInt &&
        u8(14) == 'D'.toInt && u8(15) == 'R'.toInt) {
      val w = i32(16); val h = i32(20)
      val channels = u8(25) match {
        case 0 => 1; case 2 => 3; case 3 => 1; case 4 => 2; case 6 => 4
        case _ => 0
      }
      if (channels == 0 || w <= 0 || h <= 0) None else Some((w, h, channels))
    } else if (p.length >= 4 && u8(0) == 0xff && u8(1) == 0xd8) {
      val sofMarkers = Set(0xc0, 0xc1, 0xc2, 0xc3, 0xc5, 0xc6, 0xc7,
        0xc9, 0xca, 0xcb, 0xcd, 0xce, 0xcf)
      var i = 2
      while (i + 1 < p.length) {
        if (u8(i) != 0xff) return None
        // ITU T.81 B.1.1.2: markers may be preceded by any number of
        // 0xFF fill bytes — the marker code is the first non-FF byte.
        var j = i + 1
        while (j < p.length && u8(j) == 0xff) j += 1
        if (j >= p.length) return None
        val mk = u8(j)
        if (mk == 0x01 || (mk >= 0xd0 && mk <= 0xd9)) i = j + 1 // standalone
        else {
          if (j + 2 >= p.length) return None
          val len = u16(j + 1)
          if (len < 2) return None
          if (sofMarkers(mk)) {
            if (j + 8 >= p.length) return None
            val h = u16(j + 4); val w = u16(j + 6); val c = u8(j + 8)
            return if (w > 0 && h > 0 && c > 0) Some((w, h, c)) else None
          }
          i = j + 1 + len
        }
      }
      None
    } else None
  }

  /** REAL audio header parse — WAV/RIFF by byte arithmetic, no codec
    * library (the little-endian counterpart to [[parseImageHeader]]'s
    * big-endian walks). Layout from the public RIFF/WAVE spec:
    * "RIFF" + u32le riff-size + "WAVE", then a chunk walk (4-byte id +
    * u32le size + payload, padded to even) — real files interleave fact /
    * LIST / bext chunks before data, so the walk is required. The fmt
    * chunk carries format(2) channels(2) sampleRate(4) byteRate(4)
    * blockAlign(2) bitsPerSample(2), all little-endian; the data chunk's
    * SIZE field is the payload length — the body itself need not be
    * present for header decode (headers-only corpus, same convention as
    * the image gate).
    *
    * Returns (channels, sampleRate, bitsPerSample, blockAlign, dataBytes),
    * or None when the payload is not RIFF/WAVE or the structure is
    * truncated. blockAlign is the fmt chunk's OWN field (bytes 12-13 of
    * the payload), not recomputed channels×bits/8 — the two differ on
    * packed sub-byte depths (e.g. 12-bit WAVs), and byte alignment
    * downstream must follow the container's declared frame stride.
    */
  private[graft] def parseWavHeader(
      p: Array[Byte]): Option[(Int, Int, Int, Int, Long)] = {
    @inline def u8(i: Int): Int = p(i) & 0xff
    @inline def u16le(i: Int): Int = u8(i) | (u8(i + 1) << 8)
    @inline def u32le(i: Int): Long =
      (u8(i) | (u8(i + 1) << 8) | (u8(i + 2) << 16)).toLong | (u8(i + 3).toLong << 24)
    @inline def tag(i: Int, s: String): Boolean =
      p(i) == s.charAt(0).toByte && p(i + 1) == s.charAt(1).toByte &&
        p(i + 2) == s.charAt(2).toByte && p(i + 3) == s.charAt(3).toByte
    if (p.length < 12 || !tag(0, "RIFF") || !tag(8, "WAVE")) return None
    var i = 12
    var fmt: Option[(Int, Int, Int, Int)] = None
    var data: Option[Long] = None
    while (i + 8 <= p.length && (fmt.isEmpty || data.isEmpty)) {
      val size = u32le(i + 4)
      if (tag(i, "fmt ")) {
        if (i + 8 + 16 > p.length || size < 16) return None
        val ch = u16le(i + 10); val rate = u32le(i + 12).toInt
        val blockAlign = u16le(i + 20); val bits = u16le(i + 22)
        if (ch <= 0 || rate <= 0 || bits <= 0 || blockAlign <= 0) return None
        fmt = Some((ch, rate, bits, blockAlign))
      } else if (tag(i, "data")) {
        data = Some(size)
      }
      // Chunk payloads are padded to even length; the data body may be
      // absent (header-only payload), in which case the loop just ends.
      // The advance MUST be Long arithmetic: size is an unvalidated u32
      // (up to 2^32-1) and a corrupt non-final chunk declaring >= 2^31
      // would overflow Int, turn i negative, and escape as an
      // ArrayIndexOutOfBoundsException instead of the documented
      // corrupt-payload-yields-None contract. Out-of-range ⇒ end the walk
      // (the trailing header-only data chunk was recorded above).
      val next = i.toLong + 8L + size + (size % 2)
      i = if (next > p.length || next < 0) p.length else next.toInt
    }
    for ((ch, rate, bits, ba) <- fmt; d <- data) yield (ch, rate, bits, ba, d)
  }

  /** True when the payload starts with the RIFF/WAVE magic. */
  private[graft] def looksLikeWav(p: Array[Byte]): Boolean =
    p.length >= 12 && p(0) == 'R'.toByte && p(1) == 'I'.toByte &&
      p(2) == 'F'.toByte && p(3) == 'F'.toByte && p(8) == 'W'.toByte &&
      p(9) == 'A'.toByte && p(10) == 'V'.toByte && p(11) == 'E'.toByte

  /** Audio metadata extraction over (media_id, payload): WAV header parse
    * via the native [[graft.functions.MediaFunctions.AudioHeader]]
    * expression — a single projection, same codegen-friendly shape as
    * [[decodeImageMeta]]. Duration derives from the parsed fields with
    * integer arithmetic (`data_bytes × 8000 ÷ (rate × ch × bits)` ms), so
    * the op stays exactly reproducible in any engine. Non-WAV payloads
    * yield nulls (`is_audio` false distinguishes them from corrupt WAVs).
    */
  def decodeAudioMeta(media: DataFrame): DataFrame = {
    val hdr = graft.functions.MediaFunctions.audioHeader(col("payload"))
    val bitrate = hdr.getField("sample_rate").cast("long") *
      hdr.getField("channels") * hdr.getField("bits")
    media.select(
      col("media_id"),
      coalesce(length(col("payload")).cast("long"), lit(0L)).as("n_bytes"),
      hdr.getField("channels").as("channels"),
      hdr.getField("sample_rate").as("sample_rate"),
      hdr.getField("bits").as("bits"),
      hdr.getField("block_align").as("block_align"),
      hdr.getField("data_bytes").as("data_bytes"),
      when(bitrate > 0,
        (hdr.getField("data_bytes") * lit(8000L) / bitrate).cast("long"))
        .as("duration_ms"))
  }

  /** Time-aligned segment plan for WAV payloads: overlapping [segMs,
    * strideMs) windows over each clip's parsed duration, with byte ranges
    * frame-aligned to blockAlign — the audio counterpart of
    * [[frameSample]] (explode WITHOUT decoding; the heavy sample decode
    * defers to whoever consumes `byte_start/byte_len`). Pure integer
    * arithmetic from the parsed header, so the plan is exactly
    * reproducible in any engine. Clips too short for one frame-worth of
    * window (duration 0 ms) yield no segments.
    */
  def audioSegments(media: DataFrame, segMs: Long, strideMs: Long): DataFrame = {
    require(segMs > 0 && strideMs > 0 && strideMs <= segMs,
      "need 0 < strideMs <= segMs")
    val meta = decodeAudioMeta(media)
    // The container's declared frame stride, NOT channels×bits/8 — the two
    // differ on packed sub-byte depths, and byte ranges must land on real
    // frame boundaries.
    val blockAlign = col("block_align").cast("long")
    def frameAt(ms: org.apache.spark.sql.Column) = // floor(ms * rate / 1000)
      (ms * col("sample_rate").cast("long") / lit(1000L)).cast("long")
    meta.filter(col("duration_ms").isNotNull && col("duration_ms") > 0)
      .withColumn("start_ms",
        explode(sequence(lit(0L), col("duration_ms") - 1, lit(strideMs))))
      .withColumn("seg_idx", (col("start_ms") / strideMs).cast("int"))
      .withColumn("end_ms", least(col("start_ms") + segMs, col("duration_ms")))
      .withColumn("byte_start", frameAt(col("start_ms")) * blockAlign)
      .withColumn("byte_len",
        (frameAt(col("end_ms")) - frameAt(col("start_ms"))) * blockAlign)
      .select(col("media_id"), col("seg_idx"), col("start_ms"), col("end_ms"),
        col("byte_start"), col("byte_len"))
  }

  /** True when the payload STARTS like a JPEG or PNG — used to decide
    * whether a failed parse means "corrupt image" (emit nulls) vs "not an
    * image at all" (stub path).
    */
  private[graft] def looksLikeImage(p: Array[Byte]): Boolean =
    (p.length >= 4 && (p(0) & 0xff) == 0x89 && p(1) == 'P'.toByte &&
      p(2) == 'N'.toByte && p(3) == 'G'.toByte) ||
    (p.length >= 2 && (p(0) & 0xff) == 0xff && (p(1) & 0xff) == 0xd8)

  /** Image metadata extraction over (media_id, payload): header parse via
    * the native [[graft.functions.MediaFunctions.ImageHeader]] expression —
    * a single projection, no `mapPartitions` object boundary, so the op
    * composes into the surrounding whole-stage-codegen span. A payload
    * with image magic but an unparseable structure is a CORRUPT image
    * (null dims, never fabricated ones); a non-image payload routes to
    * [[decodeStub]], whose arithmetic is plain columns.
    */
  def decodeImageMeta(media: DataFrame): DataFrame = {
    val hdr = graft.functions.MediaFunctions.imageHeader(col("payload"))
    val n = length(col("payload")) // int; null for a null payload
    // decodeStub as columns: (64 + n % 512, 64 + (n / 7) % 512, 3). The
    // int division truncates like the Scala original (n is non-negative).
    val stubW = (lit(64) + pmod(n, lit(512))).cast("int")
    val stubH = (lit(64) + pmod((n / lit(7)).cast("int"), lit(512))).cast("int")
    media.select(
      col("media_id"),
      coalesce(n.cast("long"), lit(0L)).as("n_bytes"),
      when(col("payload").isNull, lit(null).cast("int"))
        .when(hdr.getField("is_image"), hdr.getField("width"))
        .otherwise(stubW).as("width"),
      when(col("payload").isNull, lit(null).cast("int"))
        .when(hdr.getField("is_image"), hdr.getField("height"))
        .otherwise(stubH).as("height"),
      when(col("payload").isNull, lit(null).cast("int"))
        .when(hdr.getField("is_image"), hdr.getField("channels"))
        .otherwise(lit(3)).as("channels"))
  }

  /** Byte-range chunking with overlap — the training-prep op for long
    * payloads (audio windows, long-text blocks): chunk boundaries are pure
    * metadata arithmetic (no decode), the slice is a `substring` on the
    * binary column, and overlap (`chunkBytes − stride`) preserves context
    * across boundaries. One explode, no shuffle; empty payloads yield one
    * empty chunk so every media row survives into the chunk table.
    */
  def chunk(media: DataFrame, chunkBytes: Int, overlapBytes: Int = 0): DataFrame = {
    require(overlapBytes >= 0 && overlapBytes < chunkBytes,
      "overlap must be smaller than the chunk size")
    val stride = (chunkBytes - overlapBytes).toLong
    media
      .withColumn("__n", length(col("payload")).cast("long"))
      .withColumn("chunk_start",
        explode(sequence(lit(0L), greatest(col("__n"), lit(1L)) - 1, lit(stride))))
      .withColumn("chunk_idx", (col("chunk_start") / stride).cast("int"))
      .withColumn("chunk_len",
        least(lit(chunkBytes.toLong), col("__n") - col("chunk_start")))
      .withColumn("chunk",
        expr(s"substring(payload, CAST(chunk_start + 1 AS INT), $chunkBytes)"))
      .select(col("media_id"), col("chunk_idx"), col("chunk_start"),
        col("chunk_len"), col("chunk"))
  }

  /** Frame sampling plan for a "video" payload: one output row per sampled
    * frame index — the explode happens WITHOUT decoding (indices derive from
    * metadata), so the heavy decode can be deferred/filtered downstream.
    */
  def frameSample(media: DataFrame, fps: Int, everyNthFrame: Int): DataFrame =
    media
      .withColumn("n_frames",
        (length(col("payload")).cast("long") % 1000 + 1).cast("int")) // stub: frames from size
      .withColumn("frame_idx",
        explode(sequence(lit(0), col("n_frames") - 1, lit(everyNthFrame))))
      .select(col("media_id"), col("frame_idx"),
        (col("frame_idx").cast("double") / fps).as("ts_sec"))

  /** ISO-BMFF (MP4/MOV/3GP) header parse: walk the top-level box chain
    * (big-endian u32 size + 4cc type), read the `ftyp` major brand, then
    * descend into `moov` for the `mvhd` v0 movie header (timescale +
    * duration in timescale units). Pure byte arithmetic, no codec —
    * duration derives as `units·1000 ÷ timescale` ms in exact Long
    * arithmetic. Returns None for corrupt/truncated payloads, 64-bit
    * (mvhd v1) headers, and zero timescales. Box-size advances run in
    * Long arithmetic with a sub-8 floor — a corrupt u32 size (up to
    * 2^32−1) must end the walk, never wrap an Int (the WAV-walk lesson,
    * ADVICE r8).
    */
  private[graft] def parseMp4Header(
      p: Array[Byte]): Option[(String, Long, Long, Long)] = {
    @inline def u32be(i: Int): Long =
      ((p(i) & 0xffL) << 24) | ((p(i + 1) & 0xffL) << 16) |
        ((p(i + 2) & 0xffL) << 8) | (p(i + 3) & 0xffL)
    @inline def tag4(i: Int, s: String): Boolean =
      p(i) == s.charAt(0).toByte && p(i + 1) == s.charAt(1).toByte &&
        p(i + 2) == s.charAt(2).toByte && p(i + 3) == s.charAt(3).toByte
    if (p.length < 16 || !tag4(4, "ftyp")) return None
    var brand: Option[String] = None
    var ts: Option[Long] = None
    var dur = 0L
    var i = 0L
    while (i + 8 <= p.length && (brand.isEmpty || ts.isEmpty)) {
      val at = i.toInt
      val sz = u32be(at)
      if (tag4(at + 4, "ftyp")) {
        if (i + 12 > p.length) return None
        brand = Some(new String(p, at + 8, 4, "ISO-8859-1"))
      } else if (tag4(at + 4, "moov")) {
        var j = i + 8
        val end = math.min(i + math.max(sz, 8L), p.length.toLong)
        while (j + 8 <= end && ts.isEmpty) {
          val ct = j.toInt
          val csz = u32be(ct)
          if (tag4(ct + 4, "mvhd")) {
            if (j + 32 > p.length) return None
            val version = p(ct + 8) & 0xff
            if (version != 0) return None // 64-bit mvhd v1: out of scope
            ts = Some(u32be(ct + 20)); dur = u32be(ct + 24)
          }
          j = if (csz < 8) end else j + csz
        }
      }
      i = if (sz < 8) p.length.toLong else i + sz
    }
    for (b <- brand; t <- ts; if t > 0) yield (b, t, dur, dur * 1000L / t)
  }

  /** True when the payload leads with an ISO-BMFF `ftyp` box. */
  private[graft] def looksLikeMp4(p: Array[Byte]): Boolean =
    p.length >= 8 && p(4) == 'f'.toByte && p(5) == 't'.toByte &&
      p(6) == 'y'.toByte && p(7) == 'p'.toByte

  /** Video metadata extraction over (media_id, payload): ISO-BMFF header
    * parse via the native [[graft.functions.MediaFunctions.VideoHeader]]
    * expression — one projection, same codegen-friendly shape as the
    * image/audio decoders. Non-MP4 payloads yield nulls (`is_video`
    * false distinguishes them from corrupt MP4s).
    */
  def decodeVideoMeta(media: DataFrame): DataFrame = {
    val hdr = graft.functions.MediaFunctions.videoHeader(col("payload"))
    media.select(
      col("media_id"),
      coalesce(length(col("payload")).cast("long"), lit(0L)).as("n_bytes"),
      hdr.getField("major_brand").as("major_brand"),
      hdr.getField("timescale").as("timescale"),
      hdr.getField("duration_units").as("duration_units"),
      hdr.getField("duration_ms").as("duration_ms"))
  }
}
