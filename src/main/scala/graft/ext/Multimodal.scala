package graft.ext

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: image/audio/video payloads as opaque
  * `binary` columns with typed metadata, plus the per-batch
  * decode/feature-extract pipeline shape.
  *
  * The DECODE step is REAL for PNG/JPEG via JDK-native `javax.imageio`
  * ([[Decoder]]); payloads imageio cannot handle (text, RIFF audio,
  * corrupt files) fall back to a clearly-marked deterministic stub
  * ([[Decoder.decodeStub]]). Everything Spark — schema, binary column
  * handling, partition-wise batched processing via `mapPartitions` over
  * a typed Dataset (the Scala analog of `mapInPandas`), metadata
  * extraction with codegen'd built-ins — is real and tested.
  */
object Multimodal {

  /** Byte length of a binary payload. */
  def byteLen(bin: Column): Column = octet_length(bin)

  /** Lowercase sha-256 content address of a payload. */
  def contentAddress(bin: Column): Column = sha2(bin, 256)

  /** Deterministic frame-sampling PLAN over parsed video metadata
    * (e.g. [[Decoder.decodeVideo]]): `k` midpoint-uniform presentation
    * timestamps per video, `ts_us(i) = ⌊duration_us·(2i+1) / 2k⌋` —
    * the seek-target list a decode fleet consumes (actual frame decode
    * needs a codec and stays out of scope container-wide; see
    * [[Decoder.decodeVideo]]). Midpoints, not endpoints: sampling at
    * t=0 and t=duration wastes two frames on credits/black, and the
    * midpoint grid is stable under small duration edits. Integral
    * arithmetic — a SQL oracle replays every timestamp.
    *
    * Map-only (one generator over a bounded `k`); all input columns
    * pass through. Zero-duration rows emit no frames; durations whose
    * `·2k` multiply would overflow a long are dropped like any other
    * out-of-contract media field (the [[Decoder]] hostile-input
    * rule — ANSI mode would otherwise fail the whole job on one
    * forged mvhd). */
  def frameSamplePlan(meta: DataFrame, k: Int,
      durationCol: String = "duration_us"): DataFrame = {
    require(k >= 1 && k <= 100000, s"frameSamplePlan: k in [1,100000] ($k)")
    meta
      .filter(col(durationCol) > 0L &&
        col(durationCol) <= Long.MaxValue / (2L * k))
      .withColumn("frame_no", explode(sequence(lit(0L), lit(k - 1L))))
      .withColumn("ts_us",
        expr(s"($durationCol * (2 * frame_no + 1)) div ${2L * k}"))
  }

  /** Deterministic segmentation PLAN over parsed audio metadata
    * (e.g. [[Decoder.decodeWav]]/[[Decoder.decodeAudio]]) — the audio
    * twin of [[frameSamplePlan]]: fixed `windowUs` windows advancing by
    * `windowUs - overlapUs` (the ASR chunking shape — fixed windows
    * with context overlap), every instant of the stream covered, the
    * final window truncated at the stream end. Emits all input columns
    * plus `(seg_no, start_us, end_us)`; integral arithmetic
    * throughout, map-only with one generator. Zero-duration rows emit
    * nothing; durations whose `+windowUs` would overflow drop under
    * the [[Decoder]] hostile-input contract. */
  def segmentPlan(meta: DataFrame, windowUs: Long, overlapUs: Long,
      durationCol: String = "duration_us"): DataFrame = {
    require(windowUs > 0 && overlapUs >= 0 && overlapUs < windowUs,
      s"segmentPlan: need windowUs > overlapUs >= 0 " +
        s"($windowUs, $overlapUs)")
    val hop = windowUs - overlapUs
    meta
      .filter(col(durationCol) > 0L &&
        col(durationCol) <= Long.MaxValue - windowUs)
      .withColumn("seg_no", explode(sequence(lit(0L),
        expr(s"($durationCol - 1) div $hop"))))
      .withColumn("start_us", col("seg_no") * hop)
      .withColumn("end_us",
        least(col("start_us") + windowUs, col(durationCol)))
  }

  /** "Frame sampling" over an opaque payload: the hex of `frameBytes`
    * bytes at byte offset `frameIdx * strideBytes` — the Spark-side shape
    * of sampling every k-th video frame / audio window. Hex-domain
    * substring so the identical expression runs on engines without binary
    * slicing. */
  def sampleFrameHex(bin: Column, frameIdx: Int, strideBytes: Int,
      frameBytes: Int): Column =
    substring(hex(bin), frameIdx * strideBytes * 2 + 1, frameBytes * 2)

  /** Magic-byte sniffing (real decoders dispatch on these). Order
    * matters: JPEG's FFD8FF is inside the MPEG-audio sync space
    * (FFEx/FFFx), so it must match first. */
  def sniffFormat(bin: Column): Column = {
    // slice the BYTES first, hex after: hex(bin) would materialize a
    // string 2x the whole payload per probe — on multi-MB media rows
    // that is several full-payload copies on the dispatch path, where
    // these read at most 4 bytes each
    val magic = hex(substring(bin, 1, 4))
    when(magic.startsWith("89504E47"), "png")
      .when(magic.startsWith("FFD8FF"), "jpeg")
      // GIF87a/GIF89a share the "GIF8" prefix
      .when(magic.startsWith("47494638"), "gif")
      // TIFF: little-endian II*\0 or big-endian MM\0*
      .when(magic.startsWith("49492A00") || magic.startsWith("4D4D002A"),
        "tiff")
      // WebP is a RIFF container whose form type (bytes 8-11) is WEBP —
      // must discriminate BEFORE the generic riff (WAVE/AVI) case
      .when(magic.startsWith("52494646") &&
        hex(substring(bin, 9, 4)) === lit("57454250"), "webp")
      .when(magic.startsWith("52494646"), "riff")
      .when(magic.startsWith("664C6143"), "flac")
      .when(magic.startsWith("494433"), "mp3") // ID3v2-tagged stream
      .when(magic.startsWith("FFE") || magic.startsWith("FFF"), "mp3")
      // ISO BMFF (MP4/MOV): the ftyp box type at bytes 4-7
      .when(hex(substring(bin, 5, 4)) === lit("66747970"), "mp4")
      .otherwise("unknown")
  }

  /** One decoded record: the typed metadata a real image decode would
    * yield, plus extracted features — a 16-bin coarse byte histogram
    * (REAL computation over the payload, codec-free) and the post-resize
    * dimensions. */
  final case class DecodedMeta(
      doc_id: Long, format: String, byte_len: Long,
      width: Int, height: Int, channels: Int,
      resized_w: Int, resized_h: Int,
      features: Seq[Long],
      phash_bands: Seq[Long])

  /** Typed metadata of a PCM WAV payload (see [[Decoder.parseWavMeta]]). */
  final case class WavMeta(
      doc_id: Long, channels: Int, sample_rate: Int,
      bits_per_sample: Int, n_frames: Long, duration_us: Long)

  /** Unified audio metadata across the codec-free header parsers:
    * `codec` in {wav, mp3, flac}; fields a codec does not carry are 0
    * (`bits_per_sample` for MP3, `bitrate_kbps` for WAV/FLAC —
    * derivable there, reported only where it is the PRIMARY measure). */
  final case class AudioMeta(
      doc_id: Long, codec: String, channels: Int, sample_rate: Int,
      bits_per_sample: Int, n_frames: Long, duration_us: Long,
      bitrate_kbps: Int)

  /** Typed metadata of an ISO BMFF (MP4/MOV) container (see
    * [[Decoder.parseMp4Meta]]): presentation `timescale` (units/sec) and
    * `duration_units` from the movie header, `n_tracks` from the trak
    * box count — everything a container carries without touching a
    * codec. */
  final case class VideoMeta(
      doc_id: Long, major_brand: String, timescale: Long,
      duration_units: Long, duration_us: Long, n_tracks: Int)

  /** Codec-free image-container metadata (see [[Decoder.parseGifMeta]],
    * [[Decoder.parseTiffMeta]], [[Decoder.parseWebPMeta]]): dimensions
    * and pixel depth straight from the header, `has_alpha` where the
    * container declares it (WebP VP8X/VP8L flags), `variant` the
    * in-family flavor (87a/89a, II/MM, VP8/VP8L/VP8X). The web-crawl
    * image-container family PNG/JPEG lack by needing a full decode. */
  final case class ImageContainerMeta(
      doc_id: Long, format: String, variant: String,
      width: Int, height: Int, depth_bits: Int, has_alpha: Boolean)

  /** Image decoder: REAL javax.imageio PNG/JPEG decode (JDK-native, no
    * external codecs needed) with a deterministic stub fallback for
    * payloads imageio cannot handle (text blobs, RIFF audio, truncated
    * files). The partition-wise batching around it is the
    * scale-relevant part: one decoder path per partition, streamed
    * iterator, no per-row setup — the Scala analog of `mapInPandas`.
    */
  object Decoder {
    /** Target edge for the resize step (as a real pipeline would
      * normalize to a model's input resolution). */
    val ResizeTarget = 224

    /** Resize arithmetic: scale the shorter edge to [[ResizeTarget]],
      * keep aspect. (The plan-level operator; pixel resampling belongs
      * to the codec/model side.) */
    private def resized(w: Int, h: Int): (Int, Int) = {
      val scale = ResizeTarget.toDouble / math.min(w, h)
      (math.round(w * scale).toInt, math.round(h * scale).toInt)
    }

    /** JVM-side magic sniff, mirroring [[sniffFormat]]'s column form
      * (same order: JPEG before the MPEG-audio sync space). */
    def sniffOne(payload: Array[Byte]): String =
      if (payload.length >= 4 && (payload(0) & 0xff) == 0x89 &&
        payload(1) == 'P' && payload(2) == 'N' && payload(3) == 'G') "png"
      else if (payload.length >= 3 && (payload(0) & 0xff) == 0xff &&
        (payload(1) & 0xff) == 0xd8 && (payload(2) & 0xff) == 0xff) "jpeg"
      else if (payload.length >= 4 && payload(0) == 'G' &&
        payload(1) == 'I' && payload(2) == 'F' && payload(3) == '8') "gif"
      else if (payload.length >= 4 &&
        ((payload(0) == 'I' && payload(1) == 'I' &&
          (payload(2) & 0xff) == 0x2a && payload(3) == 0) ||
         (payload(0) == 'M' && payload(1) == 'M' &&
          payload(2) == 0 && (payload(3) & 0xff) == 0x2a))) "tiff"
      else if (payload.length >= 12 && payload(0) == 'R' &&
        payload(1) == 'I' && payload(2) == 'F' && payload(3) == 'F' &&
        payload(8) == 'W' && payload(9) == 'E' && payload(10) == 'B' &&
        payload(11) == 'P') "webp"
      else if (payload.length >= 4 && payload(0) == 'R' &&
        payload(1) == 'I' && payload(2) == 'F' && payload(3) == 'F') "riff"
      else if (payload.length >= 4 && payload(0) == 'f' &&
        payload(1) == 'L' && payload(2) == 'a' && payload(3) == 'C') "flac"
      else if (payload.length >= 3 && payload(0) == 'I' &&
        payload(1) == 'D' && payload(2) == '3') "mp3"
      else if (payload.length >= 2 && (payload(0) & 0xff) == 0xff &&
        (payload(1) & 0xe0) == 0xe0) "mp3"
      else if (payload.length >= 8 && payload(4) == 'f' &&
        payload(5) == 't' && payload(6) == 'y' && payload(7) == 'p') "mp4"
      else "unknown"

    /** Pack 64 above-mean bits (row-major) into 4 16-bit band values —
      * the banded form of a 64-bit perceptual hash. Emitting bands
      * instead of one u64 keeps every value positive (no sign-bit
      * overflow in either engine) and is exactly what the LSH
      * candidate join keys on. */
    private def packBands(bit: Int => Boolean): Seq[Long] =
      (0 until 4).map { k =>
        (0 until 16).foldLeft(0L) { (acc, j) =>
          if (bit(k * 16 + j)) acc | (1L << j) else acc
        }
      }

    /** Perceptual hash of a decoded image: 8×8 average-pooled luminance
      * grid, bit = cell mean above global mean (integer cross-multiplied
      * compare — no division, deterministic). Empty cells (image edge
      * shorter than 8px) hash to 0. */
    private def phashImage(im: java.awt.image.BufferedImage): Seq[Long] = {
      val w = im.getWidth; val h = im.getHeight
      val sums = new Array[Long](64)
      val px = new Array[Long](64)
      var y = 0
      while (y < h) {
        var x = 0
        val r = (y.toLong * 8 / h).toInt
        while (x < w) {
          val c = (x.toLong * 8 / w).toInt
          val rgb = im.getRGB(x, y)
          val lum = (299 * ((rgb >> 16) & 0xff) + 587 * ((rgb >> 8) & 0xff)
            + 114 * (rgb & 0xff)) / 1000
          sums(r * 8 + c) += lum
          px(r * 8 + c) += 1L
          x += 1
        }
        y += 1
      }
      val totSum = sums.sum
      val totPx = px.sum
      packBands(i => px(i) > 0 && sums(i) * totPx >= totSum * px(i))
    }

    /** Stub-path perceptual hash: the byte stream pooled positionally
      * into 64 buckets (byte j -> bucket j·64/len), bit = bucket sum
      * above 1/64 of the total — the 1-D analog of [[phashImage]],
      * integer-only so the SQL oracle replays it exactly. */
    def phashBytes(payload: Array[Byte]): Seq[Long] = {
      if (payload.isEmpty) return Seq(0L, 0L, 0L, 0L)
      val sums = new Array[Long](64)
      var j = 0
      while (j < payload.length) {
        sums((j.toLong * 64 / payload.length).toInt) += payload(j) & 0xff
        j += 1
      }
      val total = sums.sum
      packBands(i => sums(i) * 64 >= total)
    }

    /** Real decode: imageio raster -> dims, channel count, and a 16-bin
      * LUMINANCE histogram (integer BT.601 weights — deterministic) as
      * the extracted feature vector. */
    private def decodeImage(id: Long, fmt: String,
        payload: Array[Byte]): Option[DecodedMeta] = {
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(payload))
      Option(img).map { im =>
        val w = im.getWidth; val h = im.getHeight
        val hist = new Array[Long](16)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val rgb = im.getRGB(x, y)
            val lum = (299 * ((rgb >> 16) & 0xff) + 587 * ((rgb >> 8) & 0xff)
              + 114 * (rgb & 0xff)) / 1000
            hist(lum >> 4) += 1L
            x += 1
          }
          y += 1
        }
        val (rw, rh) = resized(w, h)
        DecodedMeta(id, fmt, payload.length.toLong,
          width = w, height = h,
          channels = im.getColorModel.getNumComponents,
          resized_w = rw, resized_h = rh, features = hist.toSeq,
          phash_bands = phashImage(im))
      }
    }

    /** Stub fallback for non-image payloads: deterministic fake dims
      * from the first bytes, features = REAL 16-bin byte histogram over
      * the payload (codec-free computation, so the typed mapPartitions
      * path stays DuckDB-oracle-checkable on text corpora). */
    def decodeStub(id: Long, payload: Array[Byte]): DecodedMeta = {
      val b0 = if (payload.nonEmpty) payload(0) & 0xff else 0
      val b1 = if (payload.length > 1) payload(1) & 0xff else 0
      val w = 64 + (b0 % 64)
      val h = 64 + (b1 % 64)
      val hist = new Array[Long](16)
      payload.foreach(b => hist((b & 0xff) >> 4) += 1L)
      val (rw, rh) = resized(w, h)
      DecodedMeta(id, "stub", payload.length.toLong,
        width = w, height = h, channels = 3,
        resized_w = rw, resized_h = rh, features = hist.toSeq,
        phash_bands = phashBytes(payload))
    }

    /** Dispatch: PNG/JPEG/GIF/TIFF go through the real imageio decode
      * (all four have JDK-native readers); WebP has no JDK codec, so it
      * takes the header parse for REAL dimensions with the stub's
      * byte-level features; anything else (or a corrupt image) falls
      * back to the stub. */
    def decodeOne(id: Long, payload: Array[Byte]): DecodedMeta =
      sniffOne(payload) match {
        case fmt @ ("png" | "jpeg" | "gif" | "tiff") =>
          try decodeImage(id, fmt, payload)
            .getOrElse(decodeStub(id, payload))
          catch { case _: java.io.IOException => decodeStub(id, payload) }
        case "webp" =>
          // stub features (real byte histogram + positional phash) with
          // the REAL header dimensions — one feature implementation,
          // not a divergent copy
          parseWebPMeta(id, payload).map { m =>
            val (rw, rh) = resized(m.width, m.height)
            decodeStub(id, payload).copy(format = "webp",
              width = m.width, height = m.height,
              channels = if (m.has_alpha) 4 else 3,
              resized_w = rw, resized_h = rh)
          }.getOrElse(decodeStub(id, payload))
        case _ => decodeStub(id, payload)
      }

    /** Parse a PCM RIFF/WAVE header — REAL audio-metadata decode, pure
      * byte parsing, no codec needed (the audio analog of the imageio
      * image path; sample decoding would need codecs the container
      * lacks). Walks the chunk list for `fmt ` and `data`; anything
      * malformed returns None and the caller falls back to the stub. */
    def parseWavMeta(id: Long, payload: Array[Byte]): Option[WavMeta] = {
      def u16(o: Int): Int =
        (payload(o) & 0xff) | ((payload(o + 1) & 0xff) << 8)
      def u32(o: Int): Long =
        (payload(o) & 0xffL) | ((payload(o + 1) & 0xffL) << 8) |
          ((payload(o + 2) & 0xffL) << 16) | ((payload(o + 3) & 0xffL) << 24)
      if (payload.length < 44 ||
        new String(payload, 0, 4, "US-ASCII") != "RIFF" ||
        new String(payload, 8, 4, "US-ASCII") != "WAVE") return None
      var off = 12
      var fmt: Option[(Int, Int, Int)] = None // channels, rate, bits
      var dataBytes = -1L
      var bad = false
      while (!bad && off + 8 <= payload.length && (fmt.isEmpty || dataBytes < 0)) {
        val cid = new String(payload, off, 4, "US-ASCII")
        val sz = u32(off + 4) // unsigned, so 0 <= sz <= 0xFFFFFFFF
        if (cid == "fmt " && off + 24 <= payload.length)
          fmt = Some((u16(off + 10), u32(off + 12).toInt, u16(off + 22)))
        else if (cid == "data")
          dataBytes = math.min(sz, (payload.length - off - 8).toLong)
        // advance in Long: a 32-bit size near 2^32 would wrap an Int
        // offset (negative -> infinite loop) — untrusted corpus bytes
        val next = off.toLong + 8L + sz + (sz & 1L) // chunks word-aligned
        if (next <= off || next > Int.MaxValue.toLong) bad = true
        else off = next.toInt
      }
      if (bad && dataBytes < 0) return None
      fmt.collect { case (ch, rate, bits)
          if dataBytes >= 0 && ch > 0 && rate > 0 && bits >= 8 =>
        val blockAlign = ch * (bits / 8)
        val frames = dataBytes / blockAlign
        WavMeta(id, ch, rate, bits, frames, frames * 1000000L / rate)
      }
    }

    /** Audio branch of the pipeline: binary DataFrame -> partition-
      * batched WAV header parse -> typed metadata Dataset (rows that
      * don't parse as PCM WAV are dropped — quarantine them upstream
      * with [[sniffFormat]] if the pipeline needs the rejects). */
    def decodeWav(df: DataFrame, idCol: String = "doc_id",
        binCol: String = "payload"): Dataset[WavMeta] = {
      val spark = df.sparkSession
      import spark.implicits._
      df.select(col(idCol).cast("long"), col(binCol))
        .as[(Long, Array[Byte])]
        .mapPartitions(_.flatMap { case (id, payload) =>
          parseWavMeta(id, payload) })
    }

    /** Parse the first MPEG-audio (MP3, Layer III) frame header —
      * codec-free metadata like [[parseWavMeta]]: 4 header bytes carry
      * version, sample rate, channel mode and (for CBR streams) the
      * bitrate, from which duration is ESTIMATED as audio_bytes·8 /
      * bitrate (exact for CBR, approximate for VBR — a real pipeline
      * reads the Xing/VBRI frame-count tag the same way; parsing it
      * here would add nothing to the Spark-side shape). An ID3v2 tag is
      * skipped via its syncsafe length; after it the sync word must
      * appear within a bounded 2 KiB scan (tag padding), never an
      * unbounded walk. Anything malformed returns None — untrusted
      * corpus bytes (same contract as the WAV chunk walk). */
    def parseMp3Meta(id: Long, payload: Array[Byte]): Option[AudioMeta] = {
      val n = payload.length
      // skip ID3v2: 10-byte header, 4-byte syncsafe size at offset 6
      var off = 0L
      if (n >= 10 && payload(0) == 'I' && payload(1) == 'D' &&
        payload(2) == '3') {
        val ss = (payload(6).toLong & 0x7f) << 21 |
          (payload(7).toLong & 0x7f) << 14 |
          (payload(8).toLong & 0x7f) << 7 | (payload(9).toLong & 0x7f)
        off = 10L + ss
      }
      if (off < 0 || off >= n) return None
      // bounded forward scan for the 11-bit sync (tag padding is legal)
      val limit = math.min(n - 4L, off + 2048L)
      var p = off
      while (p <= limit && !((payload(p.toInt) & 0xff) == 0xff &&
        (payload(p.toInt + 1) & 0xe0) == 0xe0)) p += 1
      if (p > limit) return None
      val o = p.toInt
      val b1 = payload(o + 1) & 0xff
      val b2 = payload(o + 2) & 0xff
      val b3 = payload(o + 3) & 0xff
      val verBits = (b1 >> 3) & 3 // 0=2.5, 1=reserved, 2=MPEG2, 3=MPEG1
      val layerBits = (b1 >> 1) & 3 // 1 = Layer III
      if (verBits == 1 || layerBits != 1) return None
      val brIdx = (b2 >> 4) & 15
      val srIdx = (b2 >> 2) & 3
      if (brIdx == 0 || brIdx == 15 || srIdx == 3) return None // free/bad
      val bitrate = // kbps, Layer III
        if (verBits == 3)
          Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224,
            256, 320)(brIdx)
        else // MPEG2 / 2.5 share the LSF table
          Array(0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144,
            160)(brIdx)
      val rate = verBits match {
        case 3 => Array(44100, 48000, 32000)(srIdx)
        case 2 => Array(22050, 24000, 16000)(srIdx)
        case _ => Array(11025, 12000, 8000)(srIdx)
      }
      val channels = if (((b3 >> 6) & 3) == 3) 1 else 2
      val audioBytes = n.toLong - p
      val durUs = audioBytes * 8L * 1000L / bitrate // = *8e6 / (kbps*1e3)
      val frames = durUs * rate / 1000000L // estimated sample count
      Some(AudioMeta(id, "mp3", channels, rate, 0, frames, durUs, bitrate))
    }

    /** Parse a FLAC STREAMINFO block — codec-free and, unlike MP3's
      * CBR estimate, EXACT: the mandatory first metadata block carries
      * sample rate (20 bits), channels, bits per sample and the 36-bit
      * total-sample count. Same hostile-input contract: every read is
      * bounds-checked, malformed returns None. */
    def parseFlacMeta(id: Long, payload: Array[Byte]): Option[AudioMeta] = {
      // 4 magic + 4 block header + 34 STREAMINFO
      if (payload.length < 42 || payload(0) != 'f' || payload(1) != 'L' ||
        payload(2) != 'a' || payload(3) != 'C') return None
      if ((payload(4) & 0x7f) != 0) return None // first block: STREAMINFO
      val len = ((payload(5) & 0xff) << 16) | ((payload(6) & 0xff) << 8) |
        (payload(7) & 0xff)
      if (len < 34) return None
      def u(i: Int): Long = payload(8 + i) & 0xffL
      val rate = ((u(10) << 12) | (u(11) << 4) | (u(12) >> 4)).toInt
      val channels = (((u(12) >> 1) & 7) + 1).toInt
      val bps = ((((u(12) & 1) << 4) | (u(13) >> 4)) + 1).toInt
      val total = ((u(13) & 0xf) << 32) | (u(14) << 24) | (u(15) << 16) |
        (u(16) << 8) | u(17)
      if (rate <= 0) return None
      Some(AudioMeta(id, "flac", channels, rate, bps, total,
        total * 1000000L / rate, 0))
    }

    /** Parse ISO BMFF (MP4/MOV) container metadata — the video analog
      * of [[parseWavMeta]], codec-free: the format is a length-prefixed
      * box tree, so brand, movie timescale/duration (mvhd, version 0
      * and 1) and track count (trak boxes inside moov) all come from
      * walking box headers; no sample data is touched. Same
      * hostile-input contract as the audio parsers: every offset
      * advances through a bounds-checked Long (a forged 32-bit box size
      * must not wrap an Int into an infinite loop), size==0 (box to
      * EOF) and size==1 (64-bit largesize) are handled, and anything
      * malformed returns None. */
    def parseMp4Meta(id: Long, payload: Array[Byte]): Option[VideoMeta] = {
      val n = payload.length
      def u32(o: Long): Long =
        ((payload(o.toInt) & 0xffL) << 24) |
          ((payload(o.toInt + 1) & 0xffL) << 16) |
          ((payload(o.toInt + 2) & 0xffL) << 8) |
          (payload(o.toInt + 3) & 0xffL)
      def u64(o: Long): Long = (u32(o) << 32) | u32(o + 4)
      def tag(o: Long): String = new String(payload, o.toInt, 4, "US-ASCII")
      if (n < 12 || tag(4) != "ftyp") return None
      val brand = tag(8)
      var timescale = -1L
      var duration = -1L
      var tracks = 0
      // walk a box list in [from, until); descend one level into moov
      def walk(from: Long, until: Long, depth: Int): Boolean = {
        var off = from
        while (off + 8 <= until) {
          val sz0 = u32(off)
          val boxType = tag(off + 4)
          val (hdr, sz) =
            if (sz0 == 1L) {
              if (off + 16 > until) return false
              (16L, u64(off + 8))
            } else if (sz0 == 0L) (8L, until - off) // box extends to end
            else (8L, sz0)
          if (sz < hdr || off + sz > until) return false
          if (depth == 0 && boxType == "moov") {
            if (!walk(off + hdr, off + sz, 1)) return false
          } else if (depth == 1 && boxType == "trak") {
            tracks += 1
          } else if (depth == 1 && boxType == "mvhd" && sz >= hdr + 4) {
            val v = payload((off + hdr).toInt) & 0xff
            if (v == 0 && sz >= hdr + 4 + 16) {
              timescale = u32(off + hdr + 12)
              duration = u32(off + hdr + 16)
            } else if (v == 1 && sz >= hdr + 4 + 28) {
              timescale = u32(off + hdr + 20)
              duration = u64(off + hdr + 24)
            } else return false
          }
          off += sz
        }
        true
      }
      if (!walk(0L, n.toLong, 0)) return None
      if (timescale <= 0 || duration < 0) return None
      // a hostile 64-bit mvhd v1 duration > Long.MaxValue/1e6 would
      // overflow the microsecond multiply into a negative duration_us —
      // treat it as malformed like every other out-of-contract field
      if (duration > Long.MaxValue / 1000000L) return None
      Some(VideoMeta(id, brand, timescale, duration,
        duration * 1000000L / timescale, tracks))
    }

    /** Video branch of the pipeline: binary DataFrame -> partition-
      * batched MP4 box walk -> typed metadata Dataset (rows that don't
      * parse as ISO BMFF are dropped — quarantine upstream via
      * [[sniffFormat]], same contract as [[decodeWav]]). Compressed
      * SAMPLE/frame decode stays out of scope container-wide (no
      * ffmpeg in the sandbox); frame-sampling plumbing over the
      * payload bytes is [[sampleFrameHex]]. */
    def decodeVideo(df: DataFrame, idCol: String = "doc_id",
        binCol: String = "payload"): Dataset[VideoMeta] = {
      val spark = df.sparkSession
      import spark.implicits._
      df.select(col(idCol).cast("long"), col(binCol))
        .as[(Long, Array[Byte])]
        .mapPartitions(_.flatMap { case (id, payload) =>
          parseMp4Meta(id, payload) })
    }

    /** Parse a GIF logical-screen descriptor — header-only, codec-free
      * (LZW never touched): version (87a/89a), canvas dimensions
      * (u16 LE at 6/8), and the global-color-table depth from the
      * packed byte at 10 (bits 0-2: table size 2^(n+1) entries).
      * Hostile-input contract as everywhere: bounds-checked, malformed
      * returns None. */
    def parseGifMeta(id: Long, payload: Array[Byte]): Option[ImageContainerMeta] = {
      if (payload.length < 13 || payload(0) != 'G' || payload(1) != 'I' ||
        payload(2) != 'F' || payload(3) != '8') return None
      val version = new String(payload, 3, 3, "US-ASCII")
      if (version != "87a" && version != "89a") return None
      def u16(o: Int): Int =
        (payload(o) & 0xff) | ((payload(o + 1) & 0xff) << 8)
      val w = u16(6); val h = u16(8)
      if (w <= 0 || h <= 0) return None
      val packed = payload(10) & 0xff
      val gctBits = if ((packed & 0x80) != 0) (packed & 7) + 1 else 0
      Some(ImageContainerMeta(id, "gif", version, w, h, gctBits,
        has_alpha = false))
    }

    /** Parse TIFF IFD0 — byte-order-aware (II/MM), walks the first
      * image file directory for ImageWidth (256), ImageLength (257) and
      * BitsPerSample (258; inline SHORT/LONG values only — a
      * multi-sample offset-stored value reports the count's first
      * in-line slot as 0, depth is best-effort there). Every offset
      * rides a bounds-checked Long: a forged 32-bit IFD offset must not
      * wrap an Int. Malformed (bad magic, IFD out of range, missing
      * dims) returns None. */
    def parseTiffMeta(id: Long, payload: Array[Byte]): Option[ImageContainerMeta] = {
      val n = payload.length
      if (n < 8) return None
      val le =
        if (payload(0) == 'I' && payload(1) == 'I' &&
          (payload(2) & 0xff) == 0x2a && payload(3) == 0) true
        else if (payload(0) == 'M' && payload(1) == 'M' &&
          payload(2) == 0 && (payload(3) & 0xff) == 0x2a) false
        else return None
      def u16(o: Long): Int = {
        val i = o.toInt
        if (le) (payload(i) & 0xff) | ((payload(i + 1) & 0xff) << 8)
        else ((payload(i) & 0xff) << 8) | (payload(i + 1) & 0xff)
      }
      def u32(o: Long): Long = {
        val i = o.toInt
        if (le) (payload(i) & 0xffL) | ((payload(i + 1) & 0xffL) << 8) |
          ((payload(i + 2) & 0xffL) << 16) | ((payload(i + 3) & 0xffL) << 24)
        else ((payload(i) & 0xffL) << 24) | ((payload(i + 1) & 0xffL) << 16) |
          ((payload(i + 2) & 0xffL) << 8) | (payload(i + 3) & 0xffL)
      }
      val ifd = u32(4L)
      if (ifd < 8L || ifd + 2L > n) return None
      val entries = u16(ifd)
      var w = -1L; var h = -1L; var bits = 0
      var e = 0
      while (e < entries) {
        val off = ifd + 2L + e.toLong * 12L
        if (off + 12L > n) return None
        val tag = u16(off)
        val typ = u16(off + 2L)
        val cnt = u32(off + 4L)
        // inline value: SHORT (3) reads 2 bytes, LONG (4) reads 4 —
        // only single-count inline values matter for the three tags
        def inlineVal: Long =
          if (typ == 3 && cnt == 1L) u16(off + 8L).toLong
          else if (typ == 4 && cnt == 1L) u32(off + 8L)
          else -1L
        tag match {
          case 256 => w = inlineVal
          case 257 => h = inlineVal
          case 258 => bits = math.max(0L, inlineVal).toInt
          case _ => ()
        }
        e += 1
      }
      if (w <= 0 || h <= 0 || w > Int.MaxValue || h > Int.MaxValue) None
      else Some(ImageContainerMeta(id, "tiff", if (le) "II" else "MM",
        w.toInt, h.toInt, bits, has_alpha = false))
    }

    /** Parse a WebP header — all three public flavors, codec-free:
      * VP8 (lossy: dims from the keyframe header behind the 9D012A
      * start code), VP8L (lossless: 14-bit packed dims behind the 0x2F
      * signature, alpha from the is_used bit), VP8X (extended: 24-bit
      * canvas dims, alpha from the flags byte). Malformed — wrong RIFF
      * form, unknown chunk, missing start codes — returns None. */
    def parseWebPMeta(id: Long, payload: Array[Byte]): Option[ImageContainerMeta] = {
      val n = payload.length
      if (n < 20 || payload(0) != 'R' || payload(1) != 'I' ||
        payload(2) != 'F' || payload(3) != 'F' || payload(8) != 'W' ||
        payload(9) != 'E' || payload(10) != 'B' || payload(11) != 'P')
        return None
      def u16le(o: Int): Int =
        (payload(o) & 0xff) | ((payload(o + 1) & 0xff) << 8)
      def u24le(o: Int): Int =
        (payload(o) & 0xff) | ((payload(o + 1) & 0xff) << 8) |
          ((payload(o + 2) & 0xff) << 16)
      val chunk = new String(payload, 12, 4, "US-ASCII")
      chunk match {
        case "VP8 " if n >= 30 =>
          // keyframe: 3-byte frame tag, then start code 9D 01 2A, then
          // 14-bit width/height (upper 2 bits are rescale hints)
          if ((payload(23) & 0xff) != 0x9d || (payload(24) & 0xff) != 0x01 ||
            (payload(25) & 0xff) != 0x2a) None
          else {
            val w = u16le(26) & 0x3fff; val h = u16le(28) & 0x3fff
            if (w == 0 || h == 0) None
            else Some(ImageContainerMeta(id, "webp", "VP8", w, h, 8,
              has_alpha = false))
          }
        case "VP8L" if n >= 25 =>
          if ((payload(20) & 0xff) != 0x2f) None
          else {
            val b0 = payload(21) & 0xff; val b1 = payload(22) & 0xff
            val b2 = payload(23) & 0xff; val b3 = payload(24) & 0xff
            val w = 1 + (b0 | ((b1 & 0x3f) << 8))
            val h = 1 + ((b1 >> 6) | (b2 << 2) | ((b3 & 0xf) << 10))
            val alpha = ((b3 >> 4) & 1) == 1
            Some(ImageContainerMeta(id, "webp", "VP8L", w, h, 8, alpha))
          }
        case "VP8X" if n >= 30 =>
          val flags = payload(20) & 0xff
          val w = 1 + u24le(24); val h = 1 + u24le(27)
          Some(ImageContainerMeta(id, "webp", "VP8X", w, h, 8,
            has_alpha = (flags & 0x10) != 0))
        case _ => None
      }
    }

    /** Parse a PNG IHDR — header-only, codec-free (zlib never
      * touched): the 8-byte signature must be followed by a 13-byte
      * IHDR as the FIRST chunk (the spec mandates it), giving
      * dimensions (u32 BE), bit depth per sample, and the color type
      * (variant: gray / rgb / palette / gray+a / rgba; alpha from
      * types 4 and 6). Hostile-input contract as everywhere:
      * bounds-checked, zero/oversized dimensions and unknown color
      * types return None. */
    def parsePngMeta(id: Long, payload: Array[Byte]): Option[ImageContainerMeta] = {
      val n = payload.length
      if (n < 33 || (payload(0) & 0xff) != 0x89 || payload(1) != 'P' ||
        payload(2) != 'N' || payload(3) != 'G' ||
        (payload(4) & 0xff) != 0x0d || (payload(5) & 0xff) != 0x0a ||
        (payload(6) & 0xff) != 0x1a || (payload(7) & 0xff) != 0x0a)
        return None
      def u32(o: Int): Long =
        ((payload(o) & 0xffL) << 24) | ((payload(o + 1) & 0xffL) << 16) |
          ((payload(o + 2) & 0xffL) << 8) | (payload(o + 3) & 0xffL)
      if (u32(8) != 13L || payload(12) != 'I' || payload(13) != 'H' ||
        payload(14) != 'D' || payload(15) != 'R') return None
      val w = u32(16); val h = u32(20)
      if (w <= 0L || h <= 0L || w > Int.MaxValue || h > Int.MaxValue)
        return None
      val depth = payload(24) & 0xff
      val variant = (payload(25) & 0xff) match {
        case 0 => "gray"
        case 2 => "rgb"
        case 3 => "palette"
        case 4 => "gray+a"
        case 6 => "rgba"
        case _ => return None
      }
      val alpha = variant == "gray+a" || variant == "rgba"
      Some(ImageContainerMeta(id, "png", variant, w.toInt, h.toInt,
        depth, alpha))
    }

    /** Parse a JPEG SOF header — a bounds-checked marker walk to the
      * first start-of-frame (SOF0-15 minus DHT/JPG/DAC), yielding
      * sample precision, dimensions (u16 BE), and the frame variant
      * ("SOF0" baseline … "SOF2" progressive …). Standalone markers
      * (TEM, RSTn) carry no length; every other segment advances by
      * its u16 length, so the walk strictly advances and terminates on
      * any input. Truncated/markerless payloads return None. */
    def parseJpegMeta(id: Long, payload: Array[Byte]): Option[ImageContainerMeta] = {
      val n = payload.length
      if (n < 4 || (payload(0) & 0xff) != 0xff ||
        (payload(1) & 0xff) != 0xd8) return None
      def u16(o: Int): Int =
        ((payload(o) & 0xff) << 8) | (payload(o + 1) & 0xff)
      var off = 2
      while (off + 4 <= n) {
        if ((payload(off) & 0xff) != 0xff) return None
        // fill bytes: FF may repeat before the marker id
        var mOff = off + 1
        while (mOff < n && (payload(mOff) & 0xff) == 0xff) mOff += 1
        if (mOff >= n) return None
        val m = payload(mOff) & 0xff
        if (m == 0x01 || (m >= 0xd0 && m <= 0xd7)) { off = mOff + 1 }
        else if (m == 0xd9 || m == 0xda) return None // EOI / scan: no SOF seen
        else {
          if (mOff + 3 > n) return None
          val len = u16(mOff + 1)
          if (len < 2 || mOff + 1 + len > n) return None
          val isSof = m >= 0xc0 && m <= 0xcf &&
            m != 0xc4 && m != 0xc8 && m != 0xcc
          if (isSof) {
            if (len < 8) return None
            val depth = payload(mOff + 3) & 0xff
            val h = u16(mOff + 4); val w = u16(mOff + 6)
            if (w <= 0 || h <= 0) return None
            return Some(ImageContainerMeta(id, "jpeg", s"SOF${m - 0xc0}",
              w, h, depth, has_alpha = false))
          }
          off = mOff + 1 + len
        }
      }
      None
    }

    /** Image-container branch of the pipeline: binary DataFrame ->
      * partition-batched PNG/JPEG/GIF/TIFF/WebP header parse -> typed
      * metadata Dataset; rows that parse as none of the five are
      * dropped (quarantine upstream via [[sniffFormat]], the same
      * contract as [[decodeWav]]/[[decodeVideo]]). */
    def decodeImageContainers(df: DataFrame, idCol: String = "doc_id",
        binCol: String = "payload"): Dataset[ImageContainerMeta] = {
      val spark = df.sparkSession
      import spark.implicits._
      df.select(col(idCol).cast("long"), col(binCol))
        .as[(Long, Array[Byte])]
        .mapPartitions(_.flatMap { case (id, payload) =>
          sniffOne(payload) match {
            case "png" => parsePngMeta(id, payload)
            case "jpeg" => parseJpegMeta(id, payload)
            case "gif" => parseGifMeta(id, payload)
            case "tiff" => parseTiffMeta(id, payload)
            case "webp" => parseWebPMeta(id, payload)
            case _ => None
          }
        })
    }

    /** Unified audio-metadata branch: magic dispatch to the WAV chunk
      * walk, the MP3 frame header, or the FLAC STREAMINFO — one
      * partition-batched pass, rows that parse as none of the three are
      * dropped (quarantine upstream via [[sniffFormat]]). Compressed
      * SAMPLE decode (the codec step) stays out of scope container-wide
      * — no ffmpeg in the sandbox; the metadata surface above is what
      * the Spark-side pipeline plumbs at scale. */
    def decodeAudio(df: DataFrame, idCol: String = "doc_id",
        binCol: String = "payload"): Dataset[AudioMeta] = {
      val spark = df.sparkSession
      import spark.implicits._
      df.select(col(idCol).cast("long"), col(binCol))
        .as[(Long, Array[Byte])]
        .mapPartitions(_.flatMap { case (id, payload) =>
          sniffOne(payload) match {
            case "riff" => parseWavMeta(id, payload).map(w =>
              AudioMeta(id, "wav", w.channels, w.sample_rate,
                w.bits_per_sample, w.n_frames, w.duration_us, 0))
            case "mp3" => parseMp3Meta(id, payload)
            case "flac" => parseFlacMeta(id, payload)
            case _ => None
          }
        })
    }

    /** The pipeline: binary DataFrame -> partition-batched decode ->
      * typed metadata Dataset. Mirrors `mapInPandas` batch semantics. */
    def decode(df: DataFrame, idCol: String = "doc_id",
        binCol: String = "payload"): Dataset[DecodedMeta] = {
      val spark = df.sparkSession
      import spark.implicits._
      df.select(col(idCol).cast("long"), col(binCol))
        .as[(Long, Array[Byte])]
        .mapPartitions { it =>
          // per-partition decoder setup would happen HERE (once), then
          // stream the batch through it
          it.map { case (id, payload) => decodeOne(id, payload) }
        }
    }
  }
}
