package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.Dedup

/** Multimodal-column plumbing: image/audio/video as opaque BINARY
  * columns plus typed metadata, with decode / feature-extraction /
  * resize / frame-sampling as per-partition batch operators.
  *
  * [[BmpCodec]], [[PngCodec]], and [[JpegCodec]] are REAL pure-JVM
  * codecs (uncompressed 24-bit BMP; 8-bit truecolor PNG with full
  * DEFLATE + scanline unfiltering; baseline JPEG with Huffman
  * entropy coding, DCT, and 4:2:0/4:2:2/4:4:4 chroma handling) so the
  * pipeline measures actual pixel work end to end — including both a
  * lossless-compressed and a lossy-DCT format. Codecs genuinely
  * needing native libs (compressed audio, video frame extraction)
  * stay behind [[StubCodec]], a clearly-marked deterministic fake.
  * Everything AROUND the codec — the schema, the binary column
  * handling, the mapPartitions batch shape (one codec init per
  * partition, streamed rows), the feature output layout — is real and
  * tested; swapping in a real library touches only the codec object.
  */
object Media {

  /** Typed media row: opaque payload + structured metadata, the schema
    * a 100 TB media lake would use (payload in parquet binary or
    * pointered to object storage; metadata columns for pruning). */
  case class MediaFile(media_id: Long, kind: String, bytes: Array[Byte],
                       width: Int, height: Int, sample_rate: Int)

  case class MediaFeatures(media_id: Long, kind: String, n_bytes: Long,
                           checksum: String, histogram: Array[Long],
                           thumb_w: Int, thumb_h: Int)

  /** Magic-byte sniff for the REAL image codecs ([[GifCodec]],
    * [[PngCodec]], [[JpegCodec]], [[BmpCodec]], [[TiffCodec]]) — the crawl-ingest
    * dispatch key ([[graft.web.WebIngest.webImages]]): real crawls'
    * Content-Type headers lie, the first bytes don't. Returns the
    * lowercase format name a decoder exists for, None otherwise
    * (unknown payloads route to quarantine; natively-compressed
    * formats are [[StubCodec.sniffNative]]'s department). */
  def sniffImage(b: Array[Byte]): Option[String] = {
    def at(i: Int) = if (i < b.length) b(i) & 0xFF else -1
    if (at(0) == 'G' && at(1) == 'I' && at(2) == 'F' && at(3) == '8') Some("gif")
    else if (at(0) == 0x89 && at(1) == 'P' && at(2) == 'N' && at(3) == 'G') Some("png")
    else if (at(0) == 0xFF && at(1) == 0xD8 && at(2) == 0xFF) Some("jpeg")
    else if (at(0) == 'B' && at(1) == 'M') Some("bmp")
    else if (at(0) == 'I' && at(1) == 'I' && at(2) == 42 && at(3) == 0) Some("tiff")
    else if (at(0) == 'M' && at(1) == 'M' && at(2) == 0 && at(3) == 42) Some("tiff")
    else None
  }

  /** Sniff-route-decode to the canonical rendering: format from magic
    * bytes, then (fmt, width, height, row-major top-down RGB bytes,
    * palette applied). THE one dispatch both consumers share —
    * [[graft.web.WebIngest.webImages]] (feature sums) and
    * [[graft.streaming.ImageStream]] (canonical-pixel dedup key) — so
    * a codec or routing fix can never make the gate and the dedup key
    * silently diverge. Throws on unsniffable payloads (quarantine
    * routing is the caller's job). */
  def decodeCanonicalRgb(body: Array[Byte]): (String, Int, Int, Array[Byte]) =
    sniffImage(body) match {
      case Some("gif") =>
        val (w, h, idx, pal) = GifCodec.decode(body)
        val out = new Array[Byte](w * h * 3)
        var i = 0
        while (i < idx.length) {
          val p = pal(idx(i) & 0xFF)
          out(3 * i) = ((p >> 16) & 0xFF).toByte
          out(3 * i + 1) = ((p >> 8) & 0xFF).toByte
          out(3 * i + 2) = (p & 0xFF).toByte
          i += 1
        }
        ("gif", w, h, out)
      case Some("png") =>
        val (w, h, rgb) = PngCodec.decode(body); ("png", w, h, rgb)
      case Some("jpeg") =>
        val (w, h, rgb) = JpegCodec.decode(body); ("jpeg", w, h, rgb)
      case Some("bmp") =>
        val (w, h, rgb) = BmpCodec.decode(body); ("bmp", w, h, rgb)
      case Some("tiff") =>
        val (w, h, rgb) = TiffCodec.decode(body); ("tiff", w, h, rgb)
      case other =>
        sys.error(s"no canonical decoder for payload sniffed as $other")
    }

  /** Audio sibling of [[sniffImage]]: magic/format sniff for the audio
    * containers the engine really decodes — "fLaC" → flac; RIFF/WAVE →
    * by the fmt-chunk format tag (1 = PCM, 6 = A-law, 7 = µ-law). A
    * RIFF with any other tag (ADPCM, float…) sniffs None so the caller
    * quarantines it instead of mis-routing. */
  def sniffAudio(bytes: Array[Byte]): Option[String] = {
    def at(i: Int) = if (i >= 0 && i < bytes.length) bytes(i) & 0xFF else -1
    // the FLAC probe checks the structural byte after the magic (first
    // metadata block must be STREAMINFO: type 0, is-last bit free), or
    // ordinary text beginning "fLaC…" would mis-route into the decoder
    // and crash instead of sniffing None for quarantine — the same
    // false-positive class sniffNative documents for its ASCII magics
    if (at(0) == 'f' && at(1) == 'L' && at(2) == 'a' && at(3) == 'C' &&
      (at(4) & 0x7F) == 0) Some("flac")
    else if (at(0) == 'R' && at(1) == 'I' && at(2) == 'F' && at(3) == 'F' &&
        at(8) == 'W' && at(9) == 'A' && at(10) == 'V' && at(11) == 'E') {
      var off = 12 // walk RIFF chunks to the fmt tag
      while (off + 8 <= bytes.length) {
        val len = at(off + 4) | (at(off + 5) << 8) | (at(off + 6) << 16) | (at(off + 7) << 24)
        // truncation bound in Long: `off + 8 + len` wraps Int when a
        // malformed chunk declares len near 2^31 (len < 0 only catches
        // bit 31), which would bypass the guard and sniff a corrupt
        // RIFF as Some(...) instead of quarantining it
        if (len < 0 || off.toLong + 8L + len > bytes.length) return None
        if (at(off) == 'f' && at(off + 1) == 'm' && at(off + 2) == 't' &&
            at(off + 3) == ' ' && len >= 2) {
          return (at(off + 8) | (at(off + 9) << 8)) match {
            case 1 => Some("wav")
            case 6 => Some("alaw")
            case 7 => Some("ulaw")
            case _ => None
          }
        }
        off += 8 + len + (len & 1)
      }
      None
    } else None
  }

  /** Uniform PCM decode over a FORMAT-MIXED audio corpus — the audio
    * analog of [[decodeCanonicalRgb]]: route by [[sniffAudio]] to the
    * right real codec and land every payload in one (fmt, rate,
    * channels, linear PCM) shape, expanding the G.711 companded
    * formats through their exact integer tables. Throws on
    * unsniffable payloads (quarantine routing is the caller's job). */
  def decodeCanonicalPcm(bytes: Array[Byte]): (String, Int, Int, Array[Int]) =
    sniffAudio(bytes) match {
      case Some("flac") =>
        val (r, ch, bps, pcm) = FlacCodec.decode(bytes)
        // the canonical-PCM shape (and every digest downstream) is
        // 16-bit; FlacCodec itself decodes 8..32-bit streams, but
        // silently truncating a 24-bit clip here would let two
        // different recordings hash identical — quarantine instead
        // (the WavCodec 16-bit-only policy, enforced at the seam)
        require(bps == 16,
          s"decodeCanonicalPcm: $bps-bit FLAC — only 16-bit audio is " +
            "canonical; route high-depth audio through FlacCodec.decode directly")
        ("flac", r, ch, pcm)
      case Some("wav") =>
        val (r, ch, s) = WavCodec.decode(bytes); ("wav", r, ch, s.map(_.toInt))
      case Some("ulaw") =>
        val (r, ch, codes) = UlawCodec.decodeWav(bytes)
        ("ulaw", r, ch, codes.map(c => UlawCodec.decodeSample(c).toInt))
      case Some("alaw") =>
        val (r, ch, codes) = AlawCodec.decodeWav(bytes)
        ("alaw", r, ch, codes.map(c => AlawCodec.decodeSample(c).toInt))
      case other =>
        sys.error(s"no canonical PCM decoder for payload sniffed as $other")
    }

  /** ====== STUB — the codec boundary, closed out as a DECISION ======
    * Deterministic fakes standing in for the codecs that genuinely
    * need native libraries (compressed audio, video frames). The
    * interface (bytes in → pixels/samples out) is what a real codec
    * (e.g. ffmpeg bindings) would implement; BMP, PNG, baseline JPEG,
    * GIF, TIFF, WAV/PCM (incl. resampling), µ-law, A-law, FLAC and
    * MJPEG-AVI are already real ([[BmpCodec]], [[PngCodec]],
    * [[JpegCodec]], [[GifCodec]], [[TiffCodec]], [[WavCodec]],
    * [[UlawCodec]], [[AlawCodec]], [[FlacCodec]], [[AviCodec]]).
    *
    * WHY MP3/AAC/H.26x STAY OUT (r12 close-out, the permanent stance):
    * every real codec above ships with an INDEPENDENT cross-check —
    * JDK ImageIO for the image formats, javax.sound.sampled for
    * WAV/µ-law — and that differential is what makes the media gates'
    * hashes trustworthy rather than self-certified. For MPEG audio and
    * video no such oracle exists here: the bare JDK has no MPEG
    * decoder (javax.sound's SPI set covers PCM/µ-law/A-law only,
    * ImageIO has no video path), this environment has no native
    * ffmpeg/mpg123, and no network egress to fetch ISO/IEC 11172-3
    * conformance vectors. A hand-rolled Layer III decoder (~2 kLoC of
    * Huffman tables, requantization, IMDCT, polyphase synthesis)
    * checked only against itself would be EXACTLY the
    * plausible-but-unverifiable class this repo's verification
    * discipline exists to reject — a subtle window/butterfly bug
    * would flow silently into every downstream fingerprint and dedup
    * verdict while the self-differential stayed green. So the
    * boundary's contract is sniff-and-quarantine, permanently:
    * [[sniffNative]] detection is exact and MediaSpec-pinned to THROW
    * on decode (compressed payloads can never flow through as
    * garbage), the Spark-side plumbing (schema, batching,
    * partitioning, frame/page sampling) is real and tested on the
    * verifiable codecs, and a real decoder plugs in at this one seam
    * the moment a verifiable implementation (native bindings, or a
    * JVM decoder plus conformance vectors) is available to check it
    * against. */
  object StubCodec {

    /** Magic-byte sniff for the natively-compressed formats this stub
      * explicitly does NOT decode (MP3/AAC/MP4/H.26x/Ogg — the LOSSY
      * formats whose decode cannot be verified here; FLAC left this
      * list in r12 when [[FlacCodec]] became real).
      * TESTED CONTRACT, not documentation: [[decode]] and
      * [[sampleFrames]] throw on a sniff hit, so a real compressed
      * payload reaching the stub fails loudly instead of flowing
      * through as garbage "features" (MediaSpec pins both directions).
      * The ISO-BMFF and Annex-B probes require leading NUL/size bytes,
      * which no UTF-8 text payload (the gates' stand-in corpus)
      * contains. */
    def sniffNative(bytes: Array[Byte]): Option[String] = {
      def at(i: Int) = if (i < bytes.length) bytes(i) & 0xFF else -1
      // the ASCII-magic probes must also check the structural byte
      // AFTER the magic, or ordinary text beginning "ID3 tags…" /
      // "OggS…" would false-positive and rejectNative would throw on a
      // legitimate document payload: ID3v2 pins a known major version
      // (2/3/4) and syncsafe size bytes (<0x80); an Ogg page's version
      // byte is 0x00 — neither of which a text byte (≥0x20) can
      // satisfy at that offset
      if (at(0) == 'I' && at(1) == 'D' && at(2) == '3' &&
        at(3) >= 2 && at(3) <= 4 && at(6) < 0x80 && at(7) < 0x80 &&
        at(8) < 0x80 && at(9) < 0x80) Some("MP3 (ID3v2)")
      else if (at(0) == 0xFF && (at(1) & 0xE0) == 0xE0) Some("MPEG audio sync (MP3/AAC ADTS)")
      else if (at(0) == 0 && at(4) == 'f' && at(5) == 't' && at(6) == 'y' && at(7) == 'p') Some("ISO-BMFF (MP4/MOV)")
      else if (at(0) == 0 && at(1) == 0 && (at(2) == 1 || (at(2) == 0 && at(3) == 1))) Some("H.264/H.265 Annex-B")
      else if (at(0) == 'O' && at(1) == 'g' && at(2) == 'g' && at(3) == 'S' &&
        at(4) == 0) Some("Ogg")
      else None
    }

    private def rejectNative(bytes: Array[Byte], op: String): Unit =
      sniffNative(bytes).foreach { fmt =>
        throw new UnsupportedOperationException(
          s"StubCodec.$op: payload is $fmt — a natively-compressed format " +
            "this engine deliberately does not fake-decode; plug a real " +
            "codec in at this boundary (BMP/PNG/JPEG/GIF/TIFF/WAV/u-law/" +
            "A-law/FLAC/AVI are already real: BmpCodec, PngCodec, " +
            "JpegCodec, GifCodec, TiffCodec, WavCodec, UlawCodec, " +
            "AlawCodec, FlacCodec, AviCodec)")
      }

    /** "Decode" = the raw bytes themselves (a real impl returns pixel
      * data). Deterministic, so tests can assert exact outputs; throws
      * on a recognizable natively-compressed payload (see
      * [[sniffNative]]). */
    def decode(bytes: Array[Byte]): Array[Byte] = {
      rejectNative(bytes, "decode")
      bytes
    }

    /** "Resize" = pick target dims, aspect-preserving bound to 64px. */
    def thumbDims(w: Int, h: Int): (Int, Int) = {
      if (w <= 0 || h <= 0) (0, 0)
      else if (w >= h) (64, math.max(1, (64.0 * h / w).toInt))
      else (math.max(1, (64.0 * w / h).toInt), 64)
    }

    /** "Frame sample" = every nth fixed-size chunk of the payload (a
      * real impl samples decoded video frames); throws on a
      * recognizable natively-compressed payload (see [[sniffNative]]). */
    def sampleFrames(bytes: Array[Byte], frameSize: Int, everyN: Int): Seq[Array[Byte]] = {
      rejectNative(bytes, "sampleFrames")
      bytes.grouped(frameSize).zipWithIndex
        .collect { case (chunk, i) if i % everyN == 0 => chunk }.toSeq
    }
  }

  /** ====== REAL CODEC — pure-JVM 24-bit BMP ======
    * One genuinely real decoder so the multimodal path measures actual
    * pixel work, not just plumbing: uncompressed 24-bit BI_RGB BMP
    * (BITMAPFILEHEADER + BITMAPINFOHEADER, 4-byte-padded bottom-up BGR
    * rows) — a fixed public format needing no native libs. Opaque
    * formats (video/compressed audio) stay behind [[StubCodec]];
    * swapping a real library in touches only the codec object, exactly
    * the boundary the stub documents. */
  object BmpCodec {
    private val HeaderLen = 54

    private def rowStride(w: Int) = (w * 3 + 3) & ~3

    /** Encode row-major top-down RGB pixels as a 24-bit BMP. */
    def encode(w: Int, h: Int, rgb: Array[Byte]): Array[Byte] = {
      require(w > 0 && h > 0 && rgb.length == w * h * 3,
        s"need $w*$h*3 RGB bytes, got ${rgb.length}")
      val stride = rowStride(w)
      val size = HeaderLen + stride * h
      val b = java.nio.ByteBuffer.allocate(size)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put('B'.toByte).put('M'.toByte).putInt(size).putInt(0).putInt(HeaderLen)
      b.putInt(40).putInt(w).putInt(h).putShort(1).putShort(24)
        .putInt(0).putInt(stride * h).putInt(2835).putInt(2835).putInt(0).putInt(0)
      var y = h - 1 // BMP rows run bottom-up
      while (y >= 0) {
        var x = 0
        while (x < w) {
          val p = (y * w + x) * 3
          b.put(rgb(p + 2)).put(rgb(p + 1)).put(rgb(p)) // BGR on disk
          x += 1
        }
        var pad = stride - w * 3
        while (pad > 0) { b.put(0.toByte); pad -= 1 }
        y -= 1
      }
      b.array()
    }

    /** Decode a 24-bit BI_RGB BMP to (width, height, top-down RGB).
      * A negative biHeight means rows are stored top-down (the other
      * legal row order in the wild) and is handled; any other BMP
      * flavor fails loudly — silent misdecodes poison a training
      * corpus. */
    def decode(bytes: Array[Byte]): (Int, Int, Array[Byte]) = {
      require(bytes.length >= HeaderLen && bytes(0) == 'B' && bytes(1) == 'M',
        "not a BMP payload")
      val b = java.nio.ByteBuffer.wrap(bytes)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      val dataOff = b.getInt(10)
      val w = b.getInt(18)
      val rawH = b.getInt(22)
      val bpp = b.getShort(28)
      val compression = b.getInt(30)
      require(bpp == 24 && compression == 0,
        s"only uncompressed 24-bit BMP supported (got $bpp bpp, compression $compression)")
      val topDown = rawH < 0
      val h = math.abs(rawH)
      require(w > 0 && h > 0, s"unsupported dims ${w}x$rawH")
      val stride = rowStride(w)
      require(bytes.length >= dataOff + stride * h, "truncated BMP payload")
      val rgb = new Array[Byte](w * h * 3)
      var y = 0
      while (y < h) {
        val src = dataOff + (if (topDown) y else h - 1 - y) * stride
        var x = 0
        while (x < w) {
          val p = (y * w + x) * 3
          rgb(p) = bytes(src + x * 3 + 2)
          rgb(p + 1) = bytes(src + x * 3 + 1)
          rgb(p + 2) = bytes(src + x * 3)
          x += 1
        }
        y += 1
      }
      (w, h, rgb)
    }

    /** Nearest-neighbor resize of top-down RGB — deterministic integer
      * source indexing (x·sw/tw), the resize step [[StubCodec.thumbDims]]
      * only sized. */
    def resizeNearest(sw: Int, sh: Int, rgb: Array[Byte],
        tw: Int, th: Int): Array[Byte] = {
      require(tw > 0 && th > 0 && sw > 0 && sh > 0)
      val out = new Array[Byte](tw * th * 3)
      var y = 0
      while (y < th) {
        val sy = (y.toLong * sh / th).toInt
        var x = 0
        while (x < tw) {
          val sx = (x.toLong * sw / tw).toInt
          val s = (sy * sw + sx) * 3
          val d = (y * tw + x) * 3
          out(d) = rgb(s); out(d + 1) = rgb(s + 1); out(d + 2) = rgb(s + 2)
          x += 1
        }
        y += 1
      }
      out
    }
  }

  /** Decoded-image features through the REAL [[BmpCodec]], in the same
    * mapPartitions batch shape as [[extractFeatures]]: decode → RGB
    * channel sums → [[StubCodec.thumbDims]]-sized nearest-neighbor
    * thumbnail, with the thumbnail's md5 as the verifiable artifact.
    * Per-row work is O(pixels), zero shuffle. */
  def decodeBmpFeatures(media: Dataset[MediaFile]): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { rows =>
      val md = java.security.MessageDigest.getInstance("MD5")
      rows.map { m =>
        val (w, h, rgb) = BmpCodec.decode(m.bytes)
        var (sr, sg, sb) = (0L, 0L, 0L)
        var i = 0
        while (i < rgb.length) {
          sr += rgb(i) & 0xFF; sg += rgb(i + 1) & 0xFF; sb += rgb(i + 2) & 0xFF
          i += 3
        }
        val (tw, th) = StubCodec.thumbDims(w, h)
        val thumb = BmpCodec.resizeNearest(w, h, rgb, tw, th)
        md.reset()
        val thumbMd5 = md.digest(thumb).map("%02x".format(_)).mkString
        (m.media_id, w, h, sr, sg, sb, tw, th, thumbMd5)
      }
    }.toDF("media_id", "width", "height", "sum_r", "sum_g", "sum_b",
      "thumb_w", "thumb_h", "thumb_md5")
  }

  /** Per-partition feature extraction: one codec/state init per
    * partition, then a streamed pass over rows — the mapPartitions
    * batch shape that amortizes model/codec startup at scale (the
    * Scala analog of mapInPandas batching). */
  def extractFeatures(media: Dataset[MediaFile]): Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { rows =>
      // (real impl: initialize codec / model weights HERE, once)
      val md = java.security.MessageDigest.getInstance("MD5")
      rows.map { m =>
        val decoded = StubCodec.decode(m.bytes)
        val hist = new Array[Long](16)
        decoded.foreach(b => hist((b & 0xFF) >> 4) += 1)
        md.reset()
        val checksum = md.digest(decoded).map("%02x".format(_)).mkString
        val (tw, th) = StubCodec.thumbDims(m.width, m.height)
        MediaFeatures(m.media_id, m.kind, decoded.length.toLong, checksum,
          hist, tw, th)
      }
    }
  }

  /** Frame sampling as a Dataset operator (video → exploded frames). */
  def sampleFrames(media: Dataset[MediaFile], frameSize: Int, everyN: Int): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.flatMap { m =>
      StubCodec.sampleFrames(m.bytes, frameSize, everyN).zipWithIndex.map {
        case (frame, i) => (m.media_id, i, frame.length, frame)
      }
    }.toDF("media_id", "frame_no", "frame_bytes_len", "frame_bytes")
  }

  // ----------------------- driver oracle query -----------------------
  /** Media features over a binary column synthesized from documents
    * (UTF-8 payload stands in for real media bytes). The SQL-checkable
    * slice: byte length + md5 checksum + a 4-bucket length histogram
    * class; the full mapPartitions path is exercised in MediaSpec. */
  def mmFeatures(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id").as("media_id"),
        lit("text/utf-8").as("kind"),
        col("text").cast("binary").as("bytes"))
      .select(col("media_id"), col("kind"),
        octet_length(col("bytes")).cast("long").as("n_bytes"),
        md5(col("bytes")).as("checksum"),
        expr("cast(octet_length(bytes) div 256 as int)").as("size_class"))

  /** Frame sampling as a gate query: documents-as-binary payloads run
    * through [[sampleFrames]] (every 2nd 64-byte "frame"), emitting the
    * sampled ordinal, length, and md5 per frame. The fixture corpus is
    * ASCII, so the DuckDB twin can slice by character position
    * (char == byte there; a real media lake slices decoded frames, not
    * bytes — that swap lives entirely inside [[StubCodec]]). */
  val FrameSize = 64
  val FrameEvery = 2

  def mmFrames(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = Tables.documents(s, dir)
      .select(col("doc_id"), col("text").cast("binary").as("bytes"))
      .as[(Long, Array[Byte])]
      .map { case (id, b) => MediaFile(id, "text/utf-8", b, 0, 0, 0) }
    sampleFrames(media, FrameSize, FrameEvery)
      .select(col("media_id"), col("frame_no").cast("long").as("frame_no"),
        col("frame_bytes_len").cast("long").as("frame_len"),
        md5(col("frame_bytes")).as("frame_md5"))
  }

  val mmFramesSql: String =
    s"""WITH chunks AS (
       |  SELECT doc_id AS media_id, i,
       |         substr(text, i * $FrameSize + 1, $FrameSize) AS frame
       |  FROM documents,
       |       LATERAL (SELECT unnest(generate_series(0,
       |         CAST(CEIL(LENGTH(text) / ${FrameSize.toDouble}) AS BIGINT) - 1)) AS i) t)
       |SELECT media_id, i // $FrameEvery AS frame_no,
       |       CAST(LENGTH(frame) AS BIGINT) AS frame_len,
       |       md5(frame) AS frame_md5
       |FROM chunks WHERE i % $FrameEvery = 0""".stripMargin

  /** Resize manifest as a gate query: per-media source dims (synthesized
    * deterministically from doc metadata — a real lake reads them from
    * the media header columns) mapped to aspect-preserving thumb dims
    * through the REAL [[StubCodec.thumbDims]] kernel in a mapPartitions
    * pass. Pure per-row work, zero shuffle. The DuckDB twin mirrors the
    * arithmetic exactly: 64.0·x/y is one IEEE division in both engines
    * and `.toInt` truncation == FLOOR for the positive values here. */
  def mmResize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select(col("doc_id"), col("n_chars")).as[(Long, Long)]
      .mapPartitions { rows =>
        // (real impl: codec init once per partition, as extractFeatures)
        rows.map { case (id, nc) =>
          val w = (nc % 500 + 1).toInt
          val h = (id % 300 + 1).toInt
          val (tw, th) = StubCodec.thumbDims(w, h)
          (id, w, h, tw, th)
        }
      }.toDF("media_id", "width", "height", "thumb_w", "thumb_h")
  }

  /** Exact content dedup over the binary payload — the media lake's
    * first-pass dedup (identical bytes → identical md5, no decode
    * needed, codec-agnostic: it works the same on BMP pixels or opaque
    * video containers). One shuffle on (kind, checksum); the min-id
    * canonical-keeper rule matches [[graft.operators.Dedup.dedupExact]]
    * so downstream `WHERE is_dup = 0` composes with the text dedups.
    * Unlike the text pass there is NO normalization — a single changed
    * byte is a different asset (re-encoded variants are the perceptual
    * family's job: [[extractFeatures]] → embedding near-dup). */
  def mmDedup(s: SparkSession, dir: String): DataFrame = {
    val m = Tables.documents(s, dir)
      .select(col("doc_id").as("media_id"),
        lit("text/utf-8").as("kind"),
        col("text").cast("binary").as("bytes"))
      .select(col("media_id"), col("kind"),
        octet_length(col("bytes")).cast("long").as("n_bytes"),
        md5(col("bytes")).as("checksum"))
    // min-id keeper via aggregate + join-back, NOT a window over the
    // checksum: a mega-duplicate-group (boilerplate pages at 100 TB)
    // would land every member in ONE window task, and AQE cannot split
    // window partitions — the aggregate partial-combines map-side and
    // the join-back is an AQE-splittable shuffle (same idiom as
    // [[graft.operators.Dedup.dedupExact]] / ccOutput; results are
    // hash-identical: both compute min(media_id) per group)
    val canon = m.groupBy(col("kind"), col("checksum"))
      .agg(min(col("media_id")).as("canonical_id"))
    m.join(canon, Seq("kind", "checksum"))
      .select(col("media_id"), col("kind"), col("n_bytes"), col("checksum"),
        col("canonical_id"),
        (col("media_id") =!= col("canonical_id")).cast("int").as("is_dup"))
  }

  val mmDedupSql: String =
    """WITH m AS (
      |  SELECT doc_id AS media_id, 'text/utf-8' AS kind,
      |         -- octet_length(encode(..)) = UTF-8 BYTES, matching Spark's
      |         -- octet_length on the binary cast (LENGTH counts CHARACTERS
      |         -- and silently diverges on any non-ASCII payload)
      |         CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes, md5(text) AS checksum
      |  FROM documents)
      |SELECT media_id, kind, n_bytes, checksum,
      |       MIN(media_id) OVER (PARTITION BY kind, checksum) AS canonical_id,
      |       CAST(media_id <> MIN(media_id) OVER (PARTITION BY kind, checksum) AS INT) AS is_dup
      |FROM m""".stripMargin

  val mmResizeSql: String =
    """WITH dims AS (
      |  SELECT doc_id AS media_id,
      |         CAST(n_chars % 500 + 1 AS INT) AS width,
      |         CAST(doc_id % 300 + 1 AS INT) AS height
      |  FROM documents)
      |SELECT media_id, width, height,
      |  CAST(CASE WHEN width >= height THEN 64
      |       ELSE GREATEST(1, CAST(FLOOR(64.0 * width / height) AS INT)) END AS INT) AS thumb_w,
      |  CAST(CASE WHEN width >= height THEN GREATEST(1, CAST(FLOOR(64.0 * height / width) AS INT))
      |       ELSE 64 END AS INT) AS thumb_h
      |FROM dims""".stripMargin

  /** Compressed-format gate: per-document synthetic RGB image →
    * [[PngCodec.encode]] (DEFLATE) → [[PngCodec.decode]] (inflate +
    * unfilter) → channel sums, in one mapPartitions pass. The pixels
    * are a deterministic integer function of (doc_id, x, y, channel),
    * so the DuckDB twin computes the SAME channel sums analytically —
    * the only way the sums can match is if compress→decompress is
    * bit-exact lossless, which the pass also asserts inline (a failed
    * round-trip raises rather than shipping poisoned pixels). At 100 TB
    * the pass is per-row O(pixels), zero shuffle, zero driver traffic;
    * the real corpus swaps the synthetic pixel source for the payload
    * column and this gate becomes the decode stage of
    * [[extractFeatures]]. */
  def mmPng(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select(col("doc_id"), col("n_chars")).as[(Long, Long)]
      .mapPartitions { rows =>
        rows.map { case (id, nc) =>
          val w = (nc % 13 + 1).toInt
          val h = (id % 11 + 1).toInt
          val rgb = new Array[Byte](w * h * 3)
          var i = 0
          while (i < rgb.length) {
            val p = i / 3
            // pixel (x, y) channel c = (doc_id + 3x + 5y + 7c) mod 256
            rgb(i) = ((id + 3L * (p % w) + 5L * (p / w) + 7L * (i % 3)) % 256L).toByte
            i += 1
          }
          val png = PngCodec.encode(w, h, rgb)
          val (dw, dh, back) = PngCodec.decode(png)
          require(dw == w && dh == h && java.util.Arrays.equals(back, rgb),
            s"PNG round-trip mismatch for media $id")
          var sr = 0L; var sg = 0L; var sb = 0L
          var j = 0
          while (j < back.length) {
            sr += back(j) & 0xFF; sg += back(j + 1) & 0xFF; sb += back(j + 2) & 0xFF
            j += 3
          }
          (id, w, h, sr, sg, sb)
        }
      }.toDF("media_id", "width", "height", "sum_r", "sum_g", "sum_b")
  }

  /** Analytic twin: sums the pixel formula directly (no PNG involved) —
    * agreement proves the Spark side's encode→decode round-trip
    * reproduced every pixel. */
  val mmPngSql: String =
    """WITH dims AS (
      |  SELECT doc_id AS media_id, doc_id,
      |         CAST(n_chars % 13 + 1 AS INT) AS width,
      |         CAST(doc_id % 11 + 1 AS INT) AS height
      |  FROM documents),
      |px AS (
      |  SELECT media_id, width, height,
      |         (doc_id + 3 * x + 5 * y) % 256 AS r,
      |         (doc_id + 3 * x + 5 * y + 7) % 256 AS g,
      |         (doc_id + 3 * x + 5 * y + 14) % 256 AS b
      |  FROM dims,
      |       LATERAL (SELECT unnest(generate_series(0, width - 1)) AS x) tx,
      |       LATERAL (SELECT unnest(generate_series(0, height - 1)) AS y) ty)
      |SELECT media_id, width, height,
      |       CAST(SUM(r) AS BIGINT) AS sum_r,
      |       CAST(SUM(g) AS BIGINT) AS sum_g,
      |       CAST(SUM(b) AS BIGINT) AS sum_b
      |FROM px GROUP BY 1, 2, 3""".stripMargin

  /** Palette-format gate: per-document synthetic indexed image →
    * [[GifCodec.encode]] (LZW, interlaced on even doc_ids so BOTH wire
    * row orders are exercised) → [[GifCodec.decode]] → per-channel sums
    * through a NON-identity palette (R = i, G = 3i mod 256,
    * B = 7i mod 256 — an identity palette would let an index/channel
    * mix-up cancel out in the sums), one mapPartitions pass. GIF's LZW
    * is lossless, so the gate asserts the exact round-trip inline and
    * the analytic twin sums the index formula through the palette
    * formula with no GIF involved — agreement proves the whole
    * LZW/interlace/color-table pipeline reproduced every pixel.
    * Cross-format independence (vs the JDK's ImageIO GIF plugin, both
    * directions, incl. the 4096-entry table-overflow path) is
    * GifSpec's job. At 100 TB: per-row O(pixels), zero shuffle. */
  def mmGif(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val palette = Array.tabulate(256)(i => (i << 16) | ((3 * i % 256) << 8) | (7 * i % 256))
    Tables.documents(s, dir)
      .select(col("doc_id"), col("n_chars")).as[(Long, Long)]
      .mapPartitions { rows =>
        rows.map { case (id, nc) =>
          val w = (nc % 15 + 1).toInt
          val h = (id % 9 + 1).toInt
          val idx = new Array[Byte](w * h)
          var i = 0
          while (i < idx.length) {
            // pixel (x, y) index = (doc_id + 3x + 5y) mod 256
            idx(i) = ((id + 3L * (i % w) + 5L * (i / w)) % 256L).toByte
            i += 1
          }
          val gif = GifCodec.encode(w, h, idx, palette, interlaced = id % 2 == 0)
          val (dw, dh, back, pal) = GifCodec.decode(gif)
          require(dw == w && dh == h && java.util.Arrays.equals(back, idx) &&
            java.util.Arrays.equals(pal, palette),
            s"GIF round-trip mismatch for media $id")
          var sr = 0L; var sg = 0L; var sb = 0L
          var j = 0
          while (j < back.length) {
            val rgb = pal(back(j) & 0xFF)
            sr += (rgb >> 16) & 0xFF; sg += (rgb >> 8) & 0xFF; sb += rgb & 0xFF
            j += 1
          }
          (id, w, h, sr, sg, sb)
        }
      }.toDF("media_id", "width", "height", "sum_r", "sum_g", "sum_b")
  }

  /** TIFF gate: per-document synthetic RGB image → [[TiffCodec.encode]]
    * with the WIRE VARIANTS chosen by doc_id — compression (even ids
    * LZW, odd uncompressed), horizontal-differencing predictor 2 on
    * ids ≡ 0 (mod 4), and strip layout by id mod 3 (single strip /
    * one-row strips / 3-row strips, each strip its own LZW stream) —
    * → [[TiffCodec.decode]] → per-channel sums, one mapPartitions
    * pass. TIFF is lossless, so the gate asserts the exact round-trip
    * inline and the analytic twin sums the pixel formula with no TIFF
    * involved: agreement proves the IFD layout, strip reassembly,
    * TIFF's MSB-first early-change LZW, and the predictor transform
    * reproduced every pixel on every variant. Cross-format
    * independence (vs the JDK's ImageIO TIFF plugin, both directions)
    * is TiffSpec's job. At 100 TB: per-row O(pixels), zero shuffle. */
  def mmTiff(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select(col("doc_id"), col("n_chars")).as[(Long, Long)]
      .mapPartitions { rows =>
        rows.map { case (id, nc) =>
          val w = (nc % 11 + 1).toInt
          val h = (id % 8 + 1).toInt
          val rgb = new Array[Byte](w * h * 3)
          var i = 0
          while (i < rgb.length) {
            val p = i / 3
            // pixel (x, y) channel c = (doc_id + 9x + 5y + 7c) mod 256
            rgb(i) = ((id + 9L * (p % w) + 5L * (p / w) + 7L * (i % 3)) % 256L).toByte
            i += 1
          }
          val lzw = id % 2 == 0
          val pred = if (lzw && id % 4 == 0) 2 else 1
          val rps = (id % 3) match { case 0 => 0; case 1 => 1; case _ => 3 }
          val tif = TiffCodec.encode(w, h, rgb, lzw, pred, rps.toInt)
          val (dw, dh, back) = TiffCodec.decode(tif)
          require(dw == w && dh == h && java.util.Arrays.equals(back, rgb),
            s"TIFF round-trip mismatch for media $id (lzw=$lzw pred=$pred rps=$rps)")
          var sr = 0L; var sg = 0L; var sb = 0L
          var j = 0
          while (j < back.length) {
            sr += back(j) & 0xFF; sg += back(j + 1) & 0xFF; sb += back(j + 2) & 0xFF
            j += 3
          }
          (id, w, h, sr, sg, sb)
        }
      }.toDF("media_id", "width", "height", "sum_r", "sum_g", "sum_b")
  }

  /** Analytic twin of [[mmTiff]]: the pixel formula summed per
    * channel directly — no TIFF involved. */
  val mmTiffSql: String =
    """WITH d AS (
      |  SELECT doc_id, CAST(n_chars % 11 + 1 AS INT) AS width,
      |         CAST(doc_id % 8 + 1 AS INT) AS height
      |  FROM documents),
      |px AS (
      |  SELECT d.doc_id, d.width, d.height,
      |         (d.doc_id + 9 * x + 5 * y) % 256 AS r,
      |         (d.doc_id + 9 * x + 5 * y + 7) % 256 AS g,
      |         (d.doc_id + 9 * x + 5 * y + 14) % 256 AS b
      |  FROM d,
      |       LATERAL (SELECT unnest(generate_series(0, d.width - 1)) AS x) tx,
      |       LATERAL (SELECT unnest(generate_series(0, d.height - 1)) AS y) ty)
      |SELECT doc_id AS media_id, width, height,
      |       CAST(SUM(r) AS BIGINT) AS sum_r,
      |       CAST(SUM(g) AS BIGINT) AS sum_g,
      |       CAST(SUM(b) AS BIGINT) AS sum_b
      |FROM px GROUP BY 1, 2, 3""".stripMargin

  /** Multi-page TIFF sampling gate — [[mmGifFrames]]'s DOCUMENT twin:
    * per document a synthetic 2..5-page scan (pixel formula varies per
    * page) → [[TiffCodec.encodePages]] (IFD chain; LZW on even ids,
    * predictor 2 on ids ≡ 0 mod 4) → [[TiffCodec.decodeEveryNth]]
    * stride 2 — the every-nth-page idiom where DROPPED pages' strip
    * data is never read: the walk hops next-IFD pointers structurally,
    * so decode cost ∝ pages kept. The gate asserts each kept page's
    * exact pixels inline; the analytic twin enumerates the even pages'
    * formula directly. At 100 TB: per-row O(kept pixels), zero
    * shuffle. */
  def mmTiffPages(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select(col("doc_id"), col("n_chars")).as[(Long, Long)]
      .mapPartitions { rows =>
        rows.flatMap { case (id, nc) =>
          val w = (nc % 9 + 1).toInt
          val h = (id % 6 + 1).toInt
          val nf = (id % 4 + 2).toInt
          val pages = (0 until nf).map { f =>
            Array.tabulate[Byte](w * h * 3) { i =>
              val p = i / 3
              ((id + 9L * (p % w) + 5L * (p / w) + 7L * (i % 3) + 11L * f) % 256L).toByte
            }
          }
          val lzw = id % 2 == 0
          val pred = if (lzw && id % 4 == 0) 2 else 1
          val tif = TiffCodec.encodePages(w, h, pages, lzw, pred)
          require(TiffCodec.pageCount(tif) == nf, s"page count mismatch for media $id")
          val kept = TiffCodec.decodeEveryNth(tif, 2)
          require(kept.map(_.pageNo) == (0 until nf by 2).toVector,
            s"sampled page set mismatch for media $id")
          kept.map { pg =>
            require(pg.w == w && pg.h == h &&
              java.util.Arrays.equals(pg.rgb, pages(pg.pageNo)),
              s"TIFF page round-trip mismatch for media $id page ${pg.pageNo}")
            var s0 = 0L; var j = 0
            while (j < pg.rgb.length) { s0 += pg.rgb(j) & 0xFF; j += 1 }
            (id, pg.pageNo, w, h, s0)
          }
        }
      }.toDF("media_id", "page_no", "width", "height", "sum_px")
  }

  /** Analytic twin of [[mmTiffPages]]: the even pages' pixel formula
    * summed over all three channels — no TIFF involved. */
  val mmTiffPagesSql: String =
    """WITH d AS (
      |  SELECT doc_id, CAST(n_chars % 9 + 1 AS INT) AS width,
      |         CAST(doc_id % 6 + 1 AS INT) AS height,
      |         doc_id % 4 + 2 AS nf
      |  FROM documents),
      |pg AS (
      |  SELECT d.doc_id, d.width, d.height, f
      |  FROM d, LATERAL (SELECT unnest(generate_series(0, d.nf - 1)) AS f) tf
      |  WHERE f % 2 = 0),
      |px AS (
      |  SELECT doc_id, f, width, height,
      |         (doc_id + 9 * x + 5 * y + 7 * c + 11 * f) % 256 AS v
      |  FROM pg,
      |       LATERAL (SELECT unnest(generate_series(0, width - 1)) AS x) tx,
      |       LATERAL (SELECT unnest(generate_series(0, height - 1)) AS y) ty,
      |       LATERAL (SELECT unnest(generate_series(0, 2)) AS c) tc)
      |SELECT doc_id AS media_id, CAST(f AS INT) AS page_no, width, height,
      |       CAST(SUM(v) AS BIGINT) AS sum_px
      |FROM px GROUP BY 1, 2, 3, 4""".stripMargin

  /** Animated-GIF sampling gate: per document a synthetic animation of
    * 2..5 full-canvas frames (pixel formula varies per frame) →
    * [[GifCodec.encodeAnimated]] (per-frame Graphic Control
    * Extensions) → [[GifCodec.decodeEveryNth]] stride 2 — the
    * every-nth-frame training-data idiom, where the DROPPED frames'
    * LZW data is skipped structurally (length-prefixed sub-blocks),
    * never decompressed: decode cost ∝ frames kept. The gate asserts
    * each kept frame's pixels AND its round-tripped GCE delay inline;
    * the analytic twin enumerates the even frames' pixel formula
    * directly. At 100 TB: per-row O(kept pixels), zero shuffle. */
  def mmGifFrames(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val palette = Array.tabulate(256)(i => (i << 16) | ((3 * i % 256) << 8) | (7 * i % 256))
    Tables.documents(s, dir)
      .select(col("doc_id"), col("n_chars")).as[(Long, Long)]
      .mapPartitions { rows =>
        rows.flatMap { case (id, nc) =>
          val w = (nc % 12 + 1).toInt
          val h = (id % 7 + 1).toInt
          val nf = (id % 4 + 2).toInt
          val frames = (0 until nf).map { f =>
            Array.tabulate[Byte](w * h)(i =>
              ((id + 3L * (i % w) + 5L * (i / w) + 11L * f) % 256L).toByte)
          }
          val gif = GifCodec.encodeAnimated(w, h, frames, palette,
            delaysCs = (0 until nf).map(_ + 1))
          val (sw, sh, kept) = GifCodec.decodeEveryNth(gif, 2)
          require(sw == w && sh == h, s"GIF screen dims mismatch for media $id")
          require(kept.map(_.frameNo) == (0 until nf by 2).toVector,
            s"sampled frame set mismatch for media $id")
          kept.map { fr =>
            require(fr.w == w && fr.h == h &&
              java.util.Arrays.equals(fr.indices, frames(fr.frameNo)) &&
              fr.delayCs == fr.frameNo + 1,
              s"GIF frame round-trip mismatch for media $id frame ${fr.frameNo}")
            var s0 = 0L; var j = 0
            while (j < fr.indices.length) { s0 += fr.indices(j) & 0xFF; j += 1 }
            (id, fr.frameNo, w, h, s0)
          }
        }
      }.toDF("media_id", "frame_no", "width", "height", "sum_px")
  }

  /** Vision-language sequence packing — the multimodal arm of
    * [[graft.operators.Cleaning.packChunks]]: each (text, image)
    * training pair costs text tokens (the packer's whitespace count)
    * PLUS its image's patch-grid tokens (⌈w/4⌉·⌈h/4⌉ — the ViT-style
    * patch budget, dims from the REAL decode chain in
    * [[graft.web.WebIngest.webImages]]) plus 2 separators; pairs pack
    * greedily per format stream (loaders batch by modality shape)
    * through THE chunk-manifest kernel
    * ([[graft.operators.Cleaning.chunkManifest]] — one definition, so
    * the text and multimodal packers cannot drift). Format streams are
    * the per-language operating point of the text gate; at 100 TB the
    * kernel's (key, shard) form applies unchanged
    * (CleaningSpec pins sharded ≡ per-stream). */
  def mmPackPairs(s: SparkSession, dir: String): DataFrame = {
    val imgs = graft.web.WebIngest.webImages(s, dir)
      .select(col("doc_id"), col("fmt"), col("width"), col("height"))
    val toks = Tables.documents(s, dir).select(col("doc_id"),
      size(regexp_extract_all(col("text"), lit("\\S+"), lit(0)))
        .cast("long").as("n_text"))
    val pairs = imgs.join(toks, Seq("doc_id"))
      .withColumn("n_tokens",
        (col("n_text") +
          expr("((width + 3) div 4) * ((height + 3) div 4)") + lit(2L))
          .cast("long"))
      .select(col("doc_id"), col("fmt"), col("n_tokens"))
    graft.operators.Cleaning.chunkManifest(pairs, Seq("fmt"))
      .select(col("doc_id"), col("fmt"), col("n_tokens"),
        col("first_chunk"), col("last_chunk"), col("n_chunks"))
  }

  /** Analytic twin: nests web_images' oracle for the decoded dims,
    * then replays the token accounting and the running-cursor spans. */
  val mmPackPairsSql: String =
    "WITH img AS (" + graft.web.WebIngest.webImagesSql + "),\n" +
    s"""t AS (
      |  SELECT d.doc_id, img.fmt,
      |         CAST(len(regexp_extract_all(d.text, '\\S+')) AS BIGINT)
      |           + ((img.width + 3) // 4) * ((img.height + 3) // 4)
      |           + 2 AS n_tokens
      |  FROM documents d JOIN img ON img.doc_id = d.doc_id),
      |c AS (
      |  SELECT doc_id, fmt, n_tokens,
      |    CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY fmt ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cb
      |  FROM t)
      |SELECT doc_id, fmt, n_tokens,
      |  cb // ${graft.operators.Cleaning.ChunkTokens} AS first_chunk,
      |  (cb + n_tokens - 1) // ${graft.operators.Cleaning.ChunkTokens} AS last_chunk,
      |  (cb + n_tokens - 1) // ${graft.operators.Cleaning.ChunkTokens}
      |    - cb // ${graft.operators.Cleaning.ChunkTokens} + 1 AS n_chunks
      |FROM c""".stripMargin

  /** TOKENIZER-TRUE vision-language packing — [[mmPackPairs]] with the
    * text arm's whitespace surrogate replaced by TRAINED-BPE symbol
    * counts ([[graft.operators.Tokenizer.bpeTokenCounts]], the same
    * count definition the text packer `pack_bpe` and the streaming
    * packer ride): a VLM trainer budgets sequences by what its
    * tokenizer emits, and the surrogate under-counts every
    * multi-symbol word, so surrogate-cut multimodal chunks overflow
    * the real budget exactly as text chunks did (MediaSpec pins that
    * the two manifests genuinely diverge on the fixtures). The image
    * arm is unchanged — patch-grid tokens ⌈w/4⌉·⌈h/4⌉ from the real
    * decode chain plus 2 separators; n_tokens is therefore always
    * positive and the kernel's empty-span rule never fires here.
    * Scale shape: the trained segmentation table broadcasts, symbol
    * counts partial-aggregate map-side, the image⋈text join is
    * doc_id-keyed, and the cut arithmetic is the ONE shared
    * chunk-manifest kernel. */
  def mmPackBpe(s: SparkSession, dir: String): DataFrame = {
    val imgs = graft.web.WebIngest.webImages(s, dir)
      .select(col("doc_id"), col("fmt"), col("width"), col("height"))
    val bpe = graft.operators.Tokenizer.bpeTokenCounts(
        Tables.documents(s, dir).select(col("doc_id"), col("lang"), col("text")),
        graft.operators.Tokenizer.vocabBpe(s, dir)
          .select(col("term"), col("n_sym")))
      .select(col("doc_id"), col("n_tokens").as("n_text"))
    val pairs = imgs.join(bpe, Seq("doc_id"))
      .withColumn("n_tokens",
        (col("n_text") +
          expr("((width + 3) div 4) * ((height + 3) div 4)") + lit(2L))
          .cast("long"))
      .select(col("doc_id"), col("fmt"), col("n_tokens"))
    graft.operators.Cleaning.chunkManifest(pairs, Seq("fmt"))
      .select(col("doc_id"), col("fmt"), col("n_tokens"),
        col("first_chunk"), col("last_chunk"), col("n_chunks"))
  }

  /** Analytic twin: web_images' oracle for dims + the unrolled BPE
    * training/encode CTEs + the running-cursor spans. */
  val mmPackBpeSql: String = {
    import graft.operators.{Cleaning, Tokenizer}
    "WITH img AS (" + graft.web.WebIngest.webImagesSql + "),\n" +
    Tokenizer.dtoksCteSql + ",\n" + Tokenizer.bpeCtesSql + ",\n" +
    s"""seg AS (SELECT term, CAST(len(string_split(seq, ' ')) AS BIGINT) AS n_sym
      |        FROM w${Tokenizer.BpeMerges}),
      |enc AS (SELECT t.doc_id, CAST(SUM(s.n_sym) AS BIGINT) AS n_sym
      |        FROM dtoks t JOIN seg s ON t.term = s.term GROUP BY t.doc_id),
      |t AS (
      |  SELECT d.doc_id, img.fmt,
      |         COALESCE(e.n_sym, 0)
      |           + ((img.width + 3) // 4) * ((img.height + 3) // 4)
      |           + 2 AS n_tokens
      |  FROM documents d
      |  JOIN img ON img.doc_id = d.doc_id
      |  LEFT JOIN enc e ON d.doc_id = e.doc_id),
      |c AS (
      |  SELECT doc_id, fmt, n_tokens,
      |    CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY fmt ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cb
      |  FROM t)
      |SELECT doc_id, fmt, n_tokens,
      |  cb // ${Cleaning.ChunkTokens} AS first_chunk,
      |  (cb + n_tokens - 1) // ${Cleaning.ChunkTokens} AS last_chunk,
      |  (cb + n_tokens - 1) // ${Cleaning.ChunkTokens}
      |    - cb // ${Cleaning.ChunkTokens} + 1 AS n_chunks
      |FROM c""".stripMargin
  }

  /** Analytic twin: the even frames' pixel formula, no GIF involved
    * (see [[mmGifFrames]]). */
  val mmGifFramesSql: String =
    """WITH dims AS (
      |  SELECT doc_id AS media_id, doc_id,
      |         CAST(n_chars % 12 + 1 AS INT) AS width,
      |         CAST(doc_id % 7 + 1 AS INT) AS height,
      |         doc_id % 4 + 2 AS nf
      |  FROM documents),
      |fr AS (
      |  SELECT media_id, doc_id, width, height, f
      |  FROM dims,
      |       LATERAL (SELECT unnest(generate_series(0, nf - 1)) AS f) tf
      |  WHERE f % 2 = 0),
      |px AS (
      |  SELECT media_id, CAST(f AS INT) AS frame_no, width, height,
      |         (doc_id + 3 * x + 5 * y + 11 * f) % 256 AS v
      |  FROM fr,
      |       LATERAL (SELECT unnest(generate_series(0, width - 1)) AS x) tx,
      |       LATERAL (SELECT unnest(generate_series(0, height - 1)) AS y) ty)
      |SELECT media_id, frame_no, width, height,
      |       CAST(SUM(v) AS BIGINT) AS sum_px
      |FROM px GROUP BY 1, 2, 3, 4""".stripMargin

  /** Analytic twin: the index formula through the palette formula,
    * no GIF involved (see [[mmGif]]). */
  val mmGifSql: String =
    """WITH dims AS (
      |  SELECT doc_id AS media_id, doc_id,
      |         CAST(n_chars % 15 + 1 AS INT) AS width,
      |         CAST(doc_id % 9 + 1 AS INT) AS height
      |  FROM documents),
      |px AS (
      |  SELECT media_id, width, height,
      |         (doc_id + 3 * x + 5 * y) % 256 AS i
      |  FROM dims,
      |       LATERAL (SELECT unnest(generate_series(0, width - 1)) AS x) tx,
      |       LATERAL (SELECT unnest(generate_series(0, height - 1)) AS y) ty)
      |SELECT media_id, width, height,
      |       CAST(SUM(i) AS BIGINT) AS sum_r,
      |       CAST(SUM(3 * i % 256) AS BIGINT) AS sum_g,
      |       CAST(SUM(7 * i % 256) AS BIGINT) AS sum_b
      |FROM px GROUP BY 1, 2, 3""".stripMargin

  /** Lossy-format gate: per-document synthetic grayscale image of
    * 8×8-ALIGNED CONSTANT BLOCKS with EVEN values → [[JpegCodec
    * .encodeGray]] (DCT + quantize + Huffman) → [[JpegCodec.decode]]
    * (parse + Huffman + dequant + IDCT) → luma sum, one mapPartitions
    * pass. On this subspace JPEG is EXACT (each block's DCT is a lone
    * DC = 8·(v−128), a multiple of the quality-50 DC step 16, so
    * quantize∘dequantize is the identity — JpegCodec scaladoc), which
    * is what makes a DuckDB-computable analytic oracle possible for a
    * lossy format: the twin sums the block formula directly, and the
    * sums can only match if the whole entropy/DCT pipeline
    * reconstructed every pixel. The pass also asserts the round-trip
    * inline (a failed reconstruction raises, never ships). Lossy
    * behavior OFF this subspace is JpegSpec's job (±1 cross-checks
    * against ImageIO both directions, 4:2:0 decode, progressive
    * quarantine). At 100 TB: per-row O(pixels), zero shuffle. */
  def mmJpeg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select(col("doc_id"), col("n_chars")).as[(Long, Long)]
      .mapPartitions { rows =>
        rows.map { case (id, nc) =>
          val wb = (nc % 3 + 1).toInt; val hb = (id % 2 + 1).toInt
          val w = wb * 8; val h = hb * 8
          val gray = new Array[Byte](w * h)
          var i = 0
          while (i < gray.length) {
            val bx = (i % w) / 8; val by = (i / w) / 8
            // block (bx, by) = 2·((doc_id + 11·bx + 23·by) mod 128)
            gray(i) = (2L * ((id + 11L * bx + 23L * by) % 128L)).toByte
            i += 1
          }
          val jpg = JpegCodec.encodeGray(w, h, gray, quality = 50)
          val (dw, dh, back) = JpegCodec.decode(jpg)
          require(dw == w && dh == h, s"JPEG dims mismatch for media $id")
          var sum = 0L
          var j = 0
          while (j < w * h) {
            require((back(3 * j) & 0xFF) == (gray(j) & 0xFF),
              s"JPEG exact-subspace round-trip mismatch for media $id at pixel $j")
            sum += back(3 * j) & 0xFF
            j += 1
          }
          (id, w, h, sum)
        }
      }.toDF("media_id", "width", "height", "sum_gray")
  }

  /** Analytic twin: 64 pixels per block × the block-value formula —
    * no JPEG involved; agreement proves the Spark side's DCT/Huffman
    * round-trip reproduced every pixel. */
  val mmJpegSql: String =
    """WITH dims AS (
      |  SELECT doc_id AS media_id, doc_id,
      |         CAST(n_chars % 3 + 1 AS BIGINT) AS wb,
      |         CAST(doc_id % 2 + 1 AS BIGINT) AS hb
      |  FROM documents),
      |blocks AS (
      |  SELECT media_id, wb, hb,
      |         2 * ((doc_id + 11 * bx + 23 * by) % 128) AS v
      |  FROM dims,
      |       LATERAL (SELECT unnest(generate_series(0, wb - 1)) AS bx) tx,
      |       LATERAL (SELECT unnest(generate_series(0, hb - 1)) AS by) ty)
      |SELECT media_id,
      |       CAST(wb * 8 AS INT) AS width,
      |       CAST(hb * 8 AS INT) AS height,
      |       CAST(64 * SUM(v) AS BIGINT) AS sum_gray
      |FROM blocks GROUP BY 1, 2, 3""".stripMargin

  /** Compressed-audio gate: G.711 µ-law through the WAV format-7
    * container. µ-law is a fixed 256-codeword quantizer, so
    * encode∘decode is the IDENTITY on the codeword image — the gate
    * synthesizes samples AS decoded codewords ([[UlawCodec
    * .decodeSample]] of a deterministic codeword stream), runs them
    * through container write → container parse → re-encode, asserts
    * the codewords survive bit-exactly, and sums the expanded PCM.
    * The DuckDB twin evaluates the same G.711 expansion —
    * ((u%16)·8+132)·2^(u/16)−132 over the complemented codeword — in
    * pure integer SQL. Lossy behavior OFF the codeword image is
    * UlawSpec's job (javax.sound cross-check both directions). At
    * 100 TB: per-row O(samples) table lookups, zero shuffle. */
  def mmUlaw(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select(col("doc_id"), col("n_chars")).as[(Long, Long)]
      .mapPartitions { rows =>
        rows.map { case (id, nc) =>
          val n = (nc % 50 + 10).toInt
          // codewords 128..254: positive branch, no −0/+0 ambiguity
          val codes = Array.tabulate(n)(t =>
            (((id * 31 + t * 17) % 127) + 128).toByte)
          val pcm = codes.map(UlawCodec.decodeSample)
          val wav = UlawCodec.encodeWav(8000, 1, pcm)
          val (rate, ch, back) = UlawCodec.decodeWav(wav)
          require(rate == 8000 && ch == 1 &&
            java.util.Arrays.equals(back, codes),
            s"µ-law codeword round-trip mismatch for media $id")
          var sum = 0L
          pcm.foreach(sum += _)
          (id, n.toLong, sum)
        }
      }.toDF("media_id", "n_samples", "sum_pcm")
  }

  /** Analytic twin: the G.711 expansion formula in integer SQL. */
  val mmUlawSql: String =
    """WITH dims AS (
      |  SELECT doc_id AS media_id, doc_id,
      |         CAST(n_chars % 50 + 10 AS BIGINT) AS n
      |  FROM documents),
      |t AS (
      |  SELECT media_id, doc_id, n, unnest(generate_series(0, n - 1)) AS t
      |  FROM dims),
      |c AS (
      |  SELECT media_id, n,
      |         255 - ((doc_id * 31 + t * 17) % 127 + 128) AS uc
      |  FROM t),
      |p AS (
      |  SELECT media_id, n,
      |         ((uc % 16) * 8 + 132) * (1 << (uc // 16)) - 132 AS pcm
      |  FROM c)
      |SELECT media_id, n AS n_samples, CAST(SUM(pcm) AS BIGINT) AS sum_pcm
      |FROM p GROUP BY 1, 2""".stripMargin

  /** The A-law twin of [[mmUlaw]] — same codeword-image identity, the
    * OTHER G.711 companding (format-6 WAV, 0x55 toggle, chord/mantissa
    * expansion; sign convention OPPOSITE µ-law's). A-law's identity
    * covers ALL 256 codewords (no ±0 pair: the smallest chord decodes
    * to ±8), so the gate streams the full codeword alphabet. The
    * DuckDB twin evaluates the same expansion in integer SQL over the
    * 0x55-toggled codeword. Decode-table truth vs the JDK's
    * independent javax.sound ALAW converter is AlawSpec's job. */
  def mmAlaw(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select(col("doc_id"), col("n_chars")).as[(Long, Long)]
      .mapPartitions { rows =>
        rows.map { case (id, nc) =>
          val n = (nc % 50 + 10).toInt
          val codes = Array.tabulate(n)(t =>
            ((id * 37 + t * 19) % 256).toByte)
          val pcm = codes.map(AlawCodec.decodeSample)
          val wav = AlawCodec.encodeWav(8000, 1, pcm)
          val (rate, ch, back) = AlawCodec.decodeWav(wav)
          require(rate == 8000 && ch == 1 &&
            java.util.Arrays.equals(back, codes),
            s"A-law codeword round-trip mismatch for media $id")
          var sum = 0L
          pcm.foreach(sum += _)
          (id, n.toLong, sum)
        }
      }.toDF("media_id", "n_samples", "sum_pcm")
  }

  /** Analytic twin: the G.711 A-law expansion in integer SQL
    * (ac = code ⊕ 0x55; chord 0 → 16q+8, 1 → 16q+264, s ≥ 2 →
    * (16q+264)·2^(s−1); positive iff ac has the top bit). */
  val mmAlawSql: String =
    """WITH dims AS (
      |  SELECT doc_id AS media_id, doc_id,
      |         CAST(n_chars % 50 + 10 AS BIGINT) AS n
      |  FROM documents),
      |t AS (
      |  SELECT media_id, doc_id, n, unnest(generate_series(0, n - 1)) AS t
      |  FROM dims),
      |c AS (
      |  SELECT media_id, n,
      |         xor((doc_id * 37 + t * 19) % 256, 85) AS ac
      |  FROM t),
      |p AS (
      |  SELECT media_id, n,
      |         CASE WHEN (ac & 128) <> 0 THEN 1 ELSE -1 END *
      |         (CASE WHEN (ac & 112) // 16 = 0 THEN (ac & 15) * 16 + 8
      |               WHEN (ac & 112) // 16 = 1 THEN (ac & 15) * 16 + 264
      |               ELSE ((ac & 15) * 16 + 264)
      |                    * (1 << ((ac & 112) // 16 - 1)) END) AS pcm
      |  FROM c)
      |SELECT media_id, n AS n_samples, CAST(SUM(pcm) AS BIGINT) AS sum_pcm
      |FROM p GROUP BY 1, 2""".stripMargin

  /** FLAC gate — the lossless-compression capstone of the audio family:
    * per-document synthetic STEREO PCM (noisy left channel, correlated
    * right channel so the encoder's stereo-decorrelation choice does
    * real work) → [[FlacCodec.encode]] (RFC 9639: fixed predictors,
    * Rice residuals, exact-cost subframe selection) →
    * [[FlacCodec.decode]], which verifies every frame CRC-8/CRC-16 AND
    * the STREAMINFO MD5 of the decoded PCM against the JDK's
    * independent digest — the mechanical proof that
    * decode(encode(x)) == x, per row. The emitted stats replay from
    * the sample formula in integer SQL (the [[mmWav]] design), so the
    * oracle hash-pins the whole chain. BlockSize 16 forces 2–5 frames
    * per clip, exercising multi-frame assembly. Per-row O(samples),
    * zero shuffle — the exact shape a 100 TB audio corpus needs. */
  val FlacBlock = 16

  def mmFlac(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select(col("doc_id"), col("n_chars")).as[(Long, Long)]
      .mapPartitions { rows =>
        rows.map { case (id, nc) =>
          val n = (nc % 60 + 20).toInt
          val pcm = new Array[Short](2 * n)
          var t = 0
          while (t < n) {
            val left = ((id * 31 + t * 17) % 32768 - 16384).toInt
            pcm(2 * t) = left.toShort
            pcm(2 * t + 1) = (left - (t * 5) % 64).toShort
            t += 1
          }
          val flac = FlacCodec.encode(8000, 2, pcm, blockSize = FlacBlock)
          val (rate, ch, bps, back) = FlacCodec.decode(flac) // CRCs + MD5 inside
          require(rate == 8000 && ch == 2 && bps == 16 &&
            java.util.Arrays.equals(back, pcm.map(_.toInt)),
            s"FLAC round-trip mismatch for media $id")
          var sumL = 0L; var sumR = 0L
          var i = 0
          while (i < n) { sumL += back(2 * i); sumR += back(2 * i + 1); i += 1 }
          (id, (n + FlacBlock - 1) / FlacBlock, n.toLong, sumL, sumR)
        }
      }.toDF("media_id", "n_frames", "n_samples", "sum_left", "sum_right")
  }

  /** Analytic twin: replays the channel formulas — agreement proves
    * encode→decode reproduced every sample of every frame. */
  val mmFlacSql: String =
    s"""WITH dims AS (
       |  SELECT doc_id AS media_id, doc_id,
       |         CAST(n_chars % 60 + 20 AS BIGINT) AS n
       |  FROM documents),
       |t AS (
       |  SELECT media_id, doc_id, n, unnest(generate_series(0, n - 1)) AS t
       |  FROM dims),
       |v AS (
       |  SELECT media_id, n,
       |         (doc_id * 31 + t * 17) % 32768 - 16384 AS lv,
       |         (t * 5) % 64 AS dv
       |  FROM t)
       |SELECT media_id,
       |       CAST((n + $FlacBlock - 1) // $FlacBlock AS INT) AS n_frames,
       |       n AS n_samples,
       |       CAST(SUM(lv) AS BIGINT) AS sum_left,
       |       CAST(SUM(lv - dv) AS BIGINT) AS sum_right
       |FROM v GROUP BY 1, 2, 3""".stripMargin

  /** Format-mixed audio ingest — the audio analog of the crawl image
    * dispatch (`web_images`): a real corpus arrives with WAV, G.711
    * µ-law/A-law and FLAC payloads interleaved, and the useful operator
    * is ONE pass that sniffs each payload ([[sniffAudio]]) and lands
    * everything in uniform linear PCM ([[decodeCanonicalPcm]]). Each
    * doc synthesizes its format by doc_id % 4, encodes through the real
    * codec (FLAC clips carry the MD5 anchor; companded clips are
    * synthesized on the codeword image so expansion is exact), and the
    * dispatcher must route it home. The DuckDB twin replays all four
    * expansion formulas under the same CASE. Per-row O(samples), zero
    * shuffle — mis-routing any payload flips fmt AND sum_pcm. */
  def mmAudioDispatch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select(col("doc_id"), col("n_chars")).as[(Long, Long)]
      .mapPartitions { rows =>
        rows.map { case (id, nc) =>
          val n = (nc % 50 + 10).toInt
          val bytes = (id % 4) match {
            case 0 => WavCodec.encode(8000, 1, Array.tabulate(n)(t =>
              ((id * 31 + t * 17) % 32768 - 16384).toShort))
            case 1 => UlawCodec.encodeWav(8000, 1, Array.tabulate(n)(t =>
              UlawCodec.decodeSample((((id * 31 + t * 17) % 127) + 128).toByte)))
            case 2 => AlawCodec.encodeWav(8000, 1, Array.tabulate(n)(t =>
              AlawCodec.decodeSample(((id * 37 + t * 19) % 256).toByte)))
            case _ => FlacCodec.encode(8000, 1, Array.tabulate(n)(t =>
              ((id * 31 + t * 17) % 32768 - 16384).toShort), blockSize = FlacBlock)
          }
          val (fmt, rate, ch, pcm) = decodeCanonicalPcm(bytes)
          require(rate == 8000 && ch == 1 && pcm.length == n,
            s"audio dispatch mis-shape for media $id ($fmt)")
          var sum = 0L
          pcm.foreach(sum += _)
          (id, fmt, n.toLong, sum)
        }
      }.toDF("media_id", "fmt", "n_samples", "sum_pcm")
  }

  /** Analytic twin: the four per-format sample/expansion formulas under
    * one CASE on doc_id % 4 (PCM and FLAC share the linear formula —
    * FLAC is lossless; µ-law/A-law replay their G.711 expansions). */
  val mmAudioDispatchSql: String =
    """WITH dims AS (
      |  SELECT doc_id AS media_id, doc_id,
      |         CAST(n_chars % 50 + 10 AS BIGINT) AS n
      |  FROM documents),
      |t AS (
      |  SELECT media_id, doc_id, n, unnest(generate_series(0, n - 1)) AS t
      |  FROM dims),
      |v AS (
      |  SELECT media_id, doc_id, n,
      |    CASE doc_id % 4
      |      WHEN 1 THEN ((255 - ((doc_id * 31 + t * 17) % 127 + 128)) % 16 * 8 + 132)
      |                  * (1 << ((255 - ((doc_id * 31 + t * 17) % 127 + 128)) // 16)) - 132
      |      WHEN 2 THEN (CASE WHEN (xor((doc_id * 37 + t * 19) % 256, 85) & 128) <> 0
      |                        THEN 1 ELSE -1 END) *
      |           (CASE WHEN (xor((doc_id * 37 + t * 19) % 256, 85) & 112) // 16 = 0
      |                 THEN (xor((doc_id * 37 + t * 19) % 256, 85) & 15) * 16 + 8
      |                 WHEN (xor((doc_id * 37 + t * 19) % 256, 85) & 112) // 16 = 1
      |                 THEN (xor((doc_id * 37 + t * 19) % 256, 85) & 15) * 16 + 264
      |                 ELSE ((xor((doc_id * 37 + t * 19) % 256, 85) & 15) * 16 + 264)
      |                      * (1 << ((xor((doc_id * 37 + t * 19) % 256, 85) & 112) // 16 - 1)) END)
      |      ELSE (doc_id * 31 + t * 17) % 32768 - 16384
      |    END AS pcm
      |  FROM t)
      |SELECT media_id,
      |       CASE doc_id % 4 WHEN 0 THEN 'wav' WHEN 1 THEN 'ulaw'
      |                       WHEN 2 THEN 'alaw' ELSE 'flac' END AS fmt,
      |       n AS n_samples, CAST(SUM(pcm) AS BIGINT) AS sum_pcm
      |FROM v GROUP BY 1, 2, 3""".stripMargin

  /** Cross-CONTAINER exact audio dedup — the audio analog of
    * `stream_images`' cross-format pixel dedup, and the capability
    * [[decodeCanonicalPcm]] exists to unlock: the same recording
    * arriving once as WAV and once as FLAC differs in every payload
    * byte, so byte-level dedup ([[mmDedup]]) sees two files, but the
    * canonical-PCM digest collapses them to one keeper. Docs pair up by
    * group g = doc_id/2 (both members synthesize IDENTICAL PCM; even
    * doc → WAV container, odd doc → FLAC), each clip decodes through
    * the dispatcher, and groups form on the MD5 of the decoded PCM
    * bytes. The first FOUR samples watermark g itself (15 bits each —
    * 60 bits covers every doc_id < 2^61), so
    * PCM equality ⇔ same group at ANY scale — no accidental formula
    * collisions as doc_id outgrows the tone period. The DuckDB twin
    * replays the group arithmetic; agreement proves the decode chain
    * landed byte-identical PCM from both containers. Scale: per-row
    * decode, one groupBy on a 32-hex key — the dedup_exact shape. */
  def mmAudioXdedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select(col("doc_id")).as[Long]
      .mapPartitions { rows =>
        val md = java.security.MessageDigest.getInstance("MD5")
        rows.map { id =>
          val g = id / 2
          val n = (g % 50 + 10).toInt
          val pcm = new Array[Short](n + 4)
          var w = 0
          while (w < 4) { // group watermark: 4 x 15 bits, high to low
            pcm(w) = ((g >> (15 * (3 - w))) & 0x7FFF).toShort
            w += 1
          }
          var t = 0
          while (t < n) {
            pcm(t + 4) = ((g * 31 + t * 17) % 32768 - 16384).toShort
            t += 1
          }
          val bytes =
            if (id % 2 == 0) WavCodec.encode(8000, 1, pcm)
            else FlacCodec.encode(8000, 1, pcm, blockSize = FlacBlock)
          val (fmt, rate, ch, out) = decodeCanonicalPcm(bytes)
          require(rate == 8000 && ch == 1, s"xdedup mis-route for $id ($fmt)")
          md.reset()
          out.foreach { v => md.update((v & 0xFF).toByte); md.update(((v >> 8) & 0xFF).toByte) }
          (id, md.digest().map("%02x".format(_)).mkString, n + 4L)
        }
      }.toDF("media_id", "pcm_md5", "n_samples")
      .groupBy(col("pcm_md5"), col("n_samples"))
      .agg(min(col("media_id")).as("keeper"),
        count(lit(1)).as("n_members"),
        countDistinct(col("media_id") % 2).as("n_fmts"))
      .select(col("keeper"), col("n_members"), col("n_fmts"), col("n_samples"))
  }

  /** Analytic twin: groups ARE doc_id/2 pairs by construction (the
    * watermark makes PCM equality ⇔ group equality), so the oracle is
    * the group arithmetic — a Spark-side decode bug that perturbs ANY
    * sample splits or merges a group and flips keeper/member counts. */
  val mmAudioXdedupSql: String =
    """WITH g AS (SELECT doc_id, doc_id // 2 AS grp FROM documents)
      |SELECT MIN(doc_id) AS keeper,
      |       COUNT(1) AS n_members,
      |       COUNT(DISTINCT doc_id % 2) AS n_fmts,
      |       CAST(grp % 50 + 14 AS BIGINT) AS n_samples
      |FROM g GROUP BY grp""".stripMargin

  /** Video gate: per-document MJPEG clip — block-constant JPEG frames
    * ([[JpegCodec]]'s exact subspace) wrapped in an AVI container
    * ([[AviCodec]]), then the extraction pipeline a video corpus runs:
    * container walk → every-2nd-frame SAMPLE (before any pixel work —
    * the at-scale cost lever) → JPEG decode → luma sums. Round-trip
    * asserted pixel-exact inline; the DuckDB twin sums the sampled
    * frames' block formula analytically. At 100 TB: per-row O(bytes)
    * container walk + O(sampled pixels) decode, zero shuffle. */
  def mmVideo(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select(col("doc_id"), col("n_chars")).as[(Long, Long)]
      .mapPartitions { rows =>
        rows.map { case (id, nc) =>
          val nf = (nc % 4 + 2).toInt // 2..5 frames
          val (w, h) = (16, 8)        // blocks (bx ∈ {0,1}, by = 0)
          def blockVal(f: Int, bx: Int): Int =
            (2L * ((id + 7L * f + 11L * bx) % 128L)).toInt
          val frames = (0 until nf).map { f =>
            val gray = Array.tabulate(w * h)(i => blockVal(f, (i % w) / 8).toByte)
            JpegCodec.encodeGray(w, h, gray, quality = 50)
          }
          val avi = AviCodec.encode(w, h, 25, frames)
          val (dw, dh, got) = AviCodec.decodeFrames(avi)
          require(dw == w && dh == h && got.length == nf,
            s"AVI container round-trip mismatch for media $id")
          val sampled = AviCodec.sampleFrames(got, 2)
          var sum = 0L
          sampled.zipWithIndex.foreach { case (jpg, si) =>
            val f = si * 2
            val (fw, fh, rgb) = JpegCodec.decode(jpg)
            require(fw == w && fh == h, s"frame dims mismatch for media $id")
            var j = 0
            while (j < w * h) {
              require((rgb(3 * j) & 0xFF) == blockVal(f, (j % w) / 8),
                s"frame $f pixel $j mismatch for media $id")
              sum += rgb(3 * j) & 0xFF
              j += 1
            }
          }
          (id, nf.toLong, sampled.length.toLong, sum)
        }
      }.toDF("media_id", "n_frames", "n_sampled", "sum_gray")
  }

  /** Analytic twin over the SAMPLED frames only (f ≡ 0 mod 2). */
  val mmVideoSql: String =
    """WITH dims AS (
      |  SELECT doc_id AS media_id, doc_id,
      |         CAST(n_chars % 4 + 2 AS BIGINT) AS nf
      |  FROM documents),
      |f AS (
      |  SELECT media_id, doc_id, nf, unnest(generate_series(0, nf - 1)) AS f
      |  FROM dims),
      |b AS (
      |  SELECT media_id, nf, f,
      |         2 * ((doc_id + 7 * f + 11 * bx) % 128) AS v
      |  FROM (SELECT * FROM f WHERE f % 2 = 0) sampled,
      |       LATERAL (SELECT unnest(generate_series(0, 1)) AS bx) tb)
      |SELECT media_id, nf AS n_frames,
      |       CAST(COUNT(DISTINCT f) AS BIGINT) AS n_sampled,
      |       CAST(64 * SUM(v) AS BIGINT) AS sum_gray
      |FROM b GROUP BY 1, 2""".stripMargin

  /** Audio gate: per-document synthetic PCM tone → [[WavCodec.encode]]
    * → [[WavCodec.decode]] (round-trip asserted inline) →
    * [[WavCodec.resampleLinear]] 8000 → 5000 Hz, emitting the resampled
    * frame count and sample sum. The sample formula and the resampler
    * are pure integer arithmetic over NON-NEGATIVE values (so truncating
    * and floor division agree), which lets the DuckDB twin replay the
    * interpolation exactly — the audio analog of [[mmPng]]'s
    * decode-verification design. Per-row O(samples), zero shuffle. */
  val WavSrcRate = 8000
  val WavDstRate = 5000

  def mmWav(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select(col("doc_id"), col("n_chars")).as[(Long, Long)]
      .mapPartitions { rows =>
        rows.map { case (id, nc) =>
          val n = (nc % 50 + 10).toInt
          // sample t = (doc_id·31 + t·17) mod 32768 — non-negative PCM
          val samples = Array.tabulate(n)(t => ((id * 31 + t * 17) % 32768).toShort)
          val wav = WavCodec.encode(WavSrcRate, 1, samples)
          val (rate, ch, back) = WavCodec.decode(wav)
          require(rate == WavSrcRate && ch == 1 &&
            java.util.Arrays.equals(back, samples),
            s"WAV round-trip mismatch for media $id")
          val res = WavCodec.resampleLinear(back, 1, WavSrcRate, WavDstRate)
          (id, n, res.length, res.map(_.toLong).sum)
        }
      }.toDF("media_id", "n_frames", "n_resampled", "sum_resampled")
  }

  /** Analytic twin: replays the integer interpolation directly from the
    * sample formula — agreement proves encode→decode→resample
    * reproduced every frame. */
  val mmWavSql: String =
    s"""WITH d AS (
       |  SELECT doc_id AS media_id, doc_id,
       |         CAST(n_chars % 50 + 10 AS INT) AS n
       |  FROM documents),
       |o AS (
       |  SELECT media_id, doc_id, n, i,
       |         (i * $WavSrcRate) // $WavDstRate AS p,
       |         (i * $WavSrcRate) % $WavDstRate AS r
       |  FROM d,
       |       LATERAL (SELECT unnest(generate_series(
       |         0, n * $WavDstRate // $WavSrcRate - 1)) AS i) t),
       |v AS (
       |  SELECT media_id, n,
       |         ((doc_id * 31 + p * 17) % 32768 * ($WavDstRate - r)
       |          + (doc_id * 31 + LEAST(p + 1, n - 1) * 17) % 32768 * r)
       |         // $WavDstRate AS val
       |  FROM o)
       |SELECT media_id, CAST(n AS INT) AS n_frames,
       |       CAST(COUNT(1) AS INT) AS n_resampled,
       |       CAST(SUM(val) AS BIGINT) AS sum_resampled
       |FROM v GROUP BY 1, 2""".stripMargin

  val mmFeaturesSql: String =
    """SELECT doc_id AS media_id,
      |  'text/utf-8' AS kind,
      |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
      |  md5(text) AS checksum,
      |  CAST(octet_length(encode(text)) // 256 AS INT) AS size_class
      |FROM documents""".stripMargin

  // -------------------------------------------------------- mm_phash
  /** Thumbnail edge for the perceptual hash (t×t grayscale). */
  val PhashT = 8

  /** Perceptual average-hash — IMAGE near-dup, the lens [[mmDedup]]'s
    * exact payload-md5 cannot provide (a re-encoded or slightly
    * brightness-shifted copy changes every byte but barely moves the
    * hash): decode the real BMP bytes, nearest-neighbor down to
    * [[PhashT]]², grayscale by integer mean, threshold each cell at
    * the thumbnail mean, pack the 64 bits. All arithmetic is integer
    * with non-negative truncating division, so the analytic twin
    * replays it exactly; the hash ships as two 32-bit halves because a
    * bit-63 set would overflow a BIGINT SUM differently per engine
    * (Spark wraps, DuckDB widens to HUGEINT and raises on the cast).
    *
    * Hamming-banding these hashes for candidate pairs is exactly the
    * [[graft.operators.Dedup]] simhash machinery — the hash column
    * plugs into that family unchanged. Per-row O(pixels), zero
    * shuffle. */
  def mmPhash(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val t = PhashT
    Tables.documents(s, dir)
      .select(col("doc_id"), col("n_chars")).as[(Long, Long)]
      .mapPartitions { rows =>
        rows.map { case (id, nc) =>
          val w = (nc % 13 + 1).toInt
          val h = (id % 11 + 1).toInt
          val rgb = new Array[Byte](w * h * 3)
          var i = 0
          while (i < rgb.length) {
            val p = i / 3
            rgb(i) = ((id + 3L * (p % w) + 5L * (p / w) + 7L * (i % 3)) % 256L).toByte
            i += 1
          }
          val bmp = BmpCodec.encode(w, h, rgb)
          val (dw, dh, back) = BmpCodec.decode(bmp)
          require(dw == w && dh == h && java.util.Arrays.equals(back, rgb),
            s"BMP round-trip mismatch for media $id")
          val thumb = BmpCodec.resizeNearest(w, h, back, t, t)
          val gray = Array.tabulate(t * t) { p =>
            ((thumb(3 * p) & 0xFF) + (thumb(3 * p + 1) & 0xFF) +
              (thumb(3 * p + 2) & 0xFF)) / 3
          }
          val mean = gray.map(_.toLong).sum / (t * t)
          var lo = 0L; var hi = 0L; var ones = 0L
          var p = 0
          while (p < t * t) {
            if (gray(p) > mean) {
              if (p < 32) lo |= 1L << p else hi |= 1L << (p - 32)
              ones += 1
            }
            p += 1
          }
          (id, w, h, lo, hi, ones)
        }
      }.toDF("media_id", "width", "height", "phash_lo", "phash_hi", "n_ones")
  }

  // --------------------------------------------------- mm_phash_pairs
  /** Per-(band, key) membership cap (the [[graft.operators.Dedup]]
    * MaxBucket discipline — synthetic fixtures produce exact-hash
    * mega-clusters, and real corpora produce blank-image ones). */
  val PhashMaxBucket = 64

  /** Max Hamming distance for a verified near-dup image pair. The
    * 4×16-bit banding below catches EVERY pair within this radius that
    * survives the bucket cap (pigeonhole: ≤ 3 differing bits cannot
    * touch all 4 bands). */
  val PhashMaxHam = 3

  /** Image NEAR-DUP pairing — [[mmPhash]]'s hashes pushed through the
    * simhash family's machinery: the 64-bit hash splits into 4×16-bit
    * bands, candidates collide on any band (bucket-capped via the
    * bounded mergeable top-K aggregate, never a window), and each
    * candidate pair verifies by exact XOR popcount ≤ [[PhashMaxHam]].
    * Canonical (ma < mb) pairs with their Hamming distance. */
  def mmPhashPairs(s: SparkSession, dir: String): DataFrame = {
    val ph = mmPhash(s, dir)
      .select(col("media_id"), col("phash_lo"), col("phash_hi"))
      // three readers below (banding + both verify joins): root them in
      // one exchange so the decode kernel runs once (the minhashEst
      // repartition discipline)
      .repartition(col("media_id"))
    val banded = ph.select(col("media_id"),
        explode(expr(
          """array(
            |  struct(0 as band_id, phash_lo & 65535 as band_key),
            |  struct(1 as band_id, shiftright(phash_lo, 16) & 65535 as band_key),
            |  struct(2 as band_id, phash_hi & 65535 as band_key),
            |  struct(3 as band_id, shiftright(phash_hi, 16) & 65535 as band_key))""".stripMargin))
          .as("b"))
      .select(col("media_id"), col("b.band_id").as("band_id"),
        col("b.band_key").as("band_key"))
    val capped = Dedup.capped(banded, "media_id", Seq("band_id", "band_key"), PhashMaxBucket)
    Dedup.bandPairs(capped, capped, "media_id", _ < _, "ma", "mb")
      .join(ph.as("pa"), col("ma") === col("pa.media_id"))
      .join(ph.as("pb"), col("mb") === col("pb.media_id"))
      .select(col("ma"), col("mb"),
        (expr("bit_count(pa.phash_lo ^ pb.phash_lo)") +
         expr("bit_count(pa.phash_hi ^ pb.phash_hi)")).cast("long").as("hamming"))
      .where(col("hamming") <= PhashMaxHam)
  }

  /** Twin: [[mmPhashSql]]'s hash table verbatim, then the identical
    * band/cap/verify chain (ROW_NUMBER cap = the same smallest-id
    * selection as the bounded aggregate). */
  lazy val mmPhashPairsSql: String =
    s"""WITH ph AS ($mmPhashSql),
       |bands0 AS (
       |  SELECT media_id, 0 AS band_id, phash_lo & 65535 AS band_key FROM ph
       |  UNION ALL SELECT media_id, 1, (phash_lo >> 16) & 65535 FROM ph
       |  UNION ALL SELECT media_id, 2, phash_hi & 65535 FROM ph
       |  UNION ALL SELECT media_id, 3, (phash_hi >> 16) & 65535 FROM ph),
       |bands AS (
       |  SELECT media_id, band_id, band_key FROM (
       |    SELECT media_id, band_id, band_key,
       |           ROW_NUMBER() OVER (PARTITION BY band_id, band_key ORDER BY media_id) AS rn
       |    FROM bands0) WHERE rn <= $PhashMaxBucket),
       |cand AS (
       |  SELECT DISTINCT a.media_id AS ma, b.media_id AS mb
       |  FROM bands a JOIN bands b
       |    ON a.band_id = b.band_id AND a.band_key = b.band_key
       |   AND a.media_id < b.media_id)
       |SELECT c.ma, c.mb,
       |       CAST(bit_count(xor(pa.phash_lo, pb.phash_lo))
       |          + bit_count(xor(pa.phash_hi, pb.phash_hi)) AS BIGINT) AS hamming
       |FROM cand c
       |JOIN ph pa ON c.ma = pa.media_id
       |JOIN ph pb ON c.mb = pb.media_id
       |WHERE bit_count(xor(pa.phash_lo, pb.phash_lo))
       |    + bit_count(xor(pa.phash_hi, pb.phash_hi)) <= $PhashMaxHam""".stripMargin

  /** Analytic twin: the pixel formula sampled at the nearest-neighbor
    * source coordinates (sx = x·w div t — floor == truncation on these
    * non-negative values), then the same mean/threshold/pack. */
  val mmPhashSql: String = {
    val t = PhashT
    s"""WITH dims AS (
       |  SELECT doc_id AS media_id, doc_id,
       |         CAST(n_chars % 13 + 1 AS INT) AS width,
       |         CAST(doc_id % 11 + 1 AS INT) AS height
       |  FROM documents),
       |g AS (
       |  SELECT media_id, width, height, ty.y * $t + tx.x AS p,
       |         ((doc_id + 3 * ((tx.x * width) // $t) + 5 * ((ty.y * height) // $t)) % 256
       |        + (doc_id + 3 * ((tx.x * width) // $t) + 5 * ((ty.y * height) // $t) + 7) % 256
       |        + (doc_id + 3 * ((tx.x * width) // $t) + 5 * ((ty.y * height) // $t) + 14) % 256) // 3 AS gray
       |  FROM dims,
       |       LATERAL (SELECT unnest(generate_series(0, $t - 1)) AS x) tx,
       |       LATERAL (SELECT unnest(generate_series(0, $t - 1)) AS y) ty),
       |m AS (SELECT media_id, CAST(SUM(gray) // ${t * t} AS BIGINT) AS mean
       |      FROM g GROUP BY 1)
       |SELECT g.media_id, g.width, g.height,
       |       CAST(COALESCE(SUM(CASE WHEN g.gray > m.mean AND g.p < 32
       |              THEN CAST(1 AS BIGINT) << g.p END), 0) AS BIGINT) AS phash_lo,
       |       CAST(COALESCE(SUM(CASE WHEN g.gray > m.mean AND g.p >= 32
       |              THEN CAST(1 AS BIGINT) << (g.p - 32) END), 0) AS BIGINT) AS phash_hi,
       |       CAST(COALESCE(SUM(CASE WHEN g.gray > m.mean THEN 1 END), 0) AS BIGINT) AS n_ones
       |FROM g JOIN m ON g.media_id = m.media_id
       |GROUP BY 1, 2, 3""".stripMargin
  }

  // ------------------------------------------------------- mm_energy
  /** Analysis frame width (samples per feature frame). */
  val EnergyFrame = 16

  /** Audio FEATURE EXTRACTION through the real codec — per-frame
    * energy and peak amplitude over framed PCM, the first stage of any
    * audio-quality / silence-trim / VAD pipeline. The samples pass
    * through a genuine WAV encode→decode (the [[mmWav]] byte path —
    * features are computed from DECODED bytes, not the formula), then
    * frame into [[EnergyFrame]]-sample windows (tail partial frame
    * kept): energy = Σ s², peak = max |s| — integers, so the features
    * hash-check against the analytic twin that regenerates the same
    * PCM relationally.
    *
    * Scale: embarrassingly row-parallel mapPartitions (the decode
    * kernel is per-media CPU, zero shuffle); output is one row per
    * frame, ~n/[[EnergyFrame]] per media item. */
  def mmEnergy(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select(col("doc_id"), col("n_chars")).as[(Long, Long)]
      .mapPartitions { rows =>
        rows.flatMap { case (id, nc) =>
          val n = (nc % 50 + 10).toInt
          val samples = Array.tabulate(n)(t => ((id * 31 + t * 17) % 32768).toShort)
          val wav = WavCodec.encode(WavSrcRate, 1, samples)
          val (_, _, pcm) = WavCodec.decode(wav)
          pcm.grouped(EnergyFrame).zipWithIndex.map { case (fr, fi) =>
            var e = 0L; var pk = 0L
            fr.foreach { v =>
              e += v.toLong * v.toLong
              if (math.abs(v.toLong) > pk) pk = math.abs(v.toLong)
            }
            (id, fi, fr.length, e, pk)
          }
        }
      }.toDF("media_id", "frame_id", "n_samples", "energy", "peak")
  }

  /** Analytic twin over the same generated PCM (samples here are
    * non-negative, so |s| = s for the peak). */
  val mmEnergySql: String =
    s"""WITH d AS (
       |  SELECT doc_id AS media_id, doc_id,
       |         CAST(n_chars % 50 + 10 AS INT) AS n
       |  FROM documents),
       |sm AS (
       |  SELECT media_id, t.t AS t,
       |         (doc_id * 31 + t.t * 17) % 32768 AS v
       |  FROM d, LATERAL (SELECT unnest(generate_series(0, n - 1)) AS t) t)
       |SELECT media_id,
       |       CAST(t // $EnergyFrame AS INT) AS frame_id,
       |       CAST(COUNT(1) AS INT) AS n_samples,
       |       CAST(SUM(v * v) AS BIGINT) AS energy,
       |       CAST(MAX(v) AS BIGINT) AS peak
       |FROM sm GROUP BY 1, 2""".stripMargin

  // ----------------------------------------------------- mm_audio_fp
  /** Fingerprint analysis frame (samples). Smaller than
    * [[EnergyFrame]] so every fixture clip yields 3–15 frames and a
    * 2–14-bit fingerprint. */
  val FpFrame = 4

  /** The fingerprint kernel: per-frame energies Σs² over
    * [[FpFrame]]-sample windows, one bit per adjacent frame pair — `1`
    * iff the energy ROSE. Returns (n_frames, packed bits, popcount).
    * Energies scale by g² under uniform gain, so the delta-signs — and
    * the whole fingerprint — are GAIN-INVARIANT (MediaSpec pins it):
    * a re-encoded, re-amplified copy whose every byte changed keeps
    * the same fingerprint, which is the point of fingerprinting over
    * checksumming. (A DC offset does NOT preserve energy deltas; that
    * robustness would need mean-removal first.) */
  private[graft] def audioFpBits(pcm: Array[Short]): (Int, Long, Long) = {
    val es = pcm.grouped(FpFrame)
      .map(fr => fr.foldLeft(0L)((a, v) => a + v.toLong * v.toLong))
      .toArray
    var fp = 0L; var ones = 0L
    var i = 0
    while (i < es.length - 1) {
      if (es(i + 1) > es(i)) { fp |= 1L << i; ones += 1 }
      i += 1
    }
    (es.length, fp, ones)
  }

  /** Acoustic fingerprint — AUDIO near-dup, the lens the byte-exact
    * [[mmDedup]] cannot provide, mirroring what [[mmPhash]] does for
    * images (Chromaprint/Shazam lineage, radically simplified): decode
    * the real WAV bytes, then [[audioFpBits]] over the DECODED frames.
    * All integer arithmetic, so the analytic twin replays the bits
    * exactly. Per-row O(samples), zero shuffle. */
  def mmAudioFp(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select(col("doc_id"), col("n_chars")).as[(Long, Long)]
      .mapPartitions { rows =>
        rows.map { case (id, nc) =>
          val n = (nc % 50 + 10).toInt
          val samples = Array.tabulate(n)(t => ((id * 31 + t * 17) % 32768).toShort)
          val wav = WavCodec.encode(WavSrcRate, 1, samples)
          val (_, _, pcm) = WavCodec.decode(wav)
          val (nf, fp, ones) = audioFpBits(pcm)
          (id, nf, fp, ones)
        }
      }.toDF("media_id", "n_frames", "fp", "n_ones")
  }

  /** Analytic twin: per-frame energies relationally, the rose-bit per
    * adjacent pair via a self-join on f+1, the same bit pack. */
  val mmAudioFpSql: String =
    s"""WITH d AS (
       |  SELECT doc_id AS media_id, doc_id,
       |         CAST(n_chars % 50 + 10 AS INT) AS n
       |  FROM documents),
       |sm AS (
       |  SELECT media_id, t.t AS t,
       |         (doc_id * 31 + t.t * 17) % 32768 AS v
       |  FROM d, LATERAL (SELECT unnest(generate_series(0, n - 1)) AS t) t),
       |fe AS (
       |  SELECT media_id, t // $FpFrame AS f, SUM(v * v) AS e
       |  FROM sm GROUP BY 1, 2),
       |db AS (
       |  SELECT a.media_id, a.f AS i,
       |         CASE WHEN b.e > a.e THEN 1 ELSE 0 END AS bit
       |  FROM fe a JOIN fe b ON a.media_id = b.media_id AND b.f = a.f + 1)
       |SELECT media_id,
       |       CAST(COUNT(1) + 1 AS INT) AS n_frames,
       |       CAST(COALESCE(SUM(CASE WHEN bit = 1
       |              THEN CAST(1 AS BIGINT) << i END), 0) AS BIGINT) AS fp,
       |       CAST(COALESCE(SUM(bit), 0) AS BIGINT) AS n_ones
       |FROM db GROUP BY 1""".stripMargin

  // -------------------------------------------------- mm_audio_pairs
  /** Per-(band, key) membership cap — the [[PhashMaxBucket]]
    * discipline; short clips have tiny fingerprint spaces, so
    * mega-buckets are STRUCTURAL here, not just a fixture artifact. */
  val AudioMaxBucket = 64
  /** Max Hamming distance for a verified near-dup clip pair; the
    * 2-band split below is pigeonhole-complete for it (1 differing bit
    * cannot touch both bands). */
  val AudioMaxHam = 1
  /** Fixed band split: bits 0–6 vs 7–14. Uniform across clips (bands
    * must be comparable keys); clips only ever pair within the same
    * `n_frames`, so the varying fingerprint WIDTH never makes two
    * different-length fingerprints collide as equals. */
  val AudioBandBits = 7

  /** Audio NEAR-DUP pairing — [[mmAudioFp]] through the simhash-family
    * machinery (same shape as [[mmPhashPairs]]): candidates collide on
    * (n_frames, either band), buckets capped via the bounded mergeable
    * top-K aggregate (never a window), verify by exact XOR popcount ≤
    * [[AudioMaxHam]]. Canonical (ma < mb) pairs with distance. */
  def mmAudioPairs(s: SparkSession, dir: String): DataFrame = {
    val fps = mmAudioFp(s, dir)
      .select(col("media_id"), col("n_frames"), col("fp"))
      // banding + both verify joins read this: one decode pass
      .repartition(col("media_id"))
    val mask = (1L << AudioBandBits) - 1
    val banded = fps.select(col("media_id"), col("n_frames"),
        explode(expr(
          s"""array(
             |  struct(0 as band_id, fp & $mask as band_key),
             |  struct(1 as band_id, shiftright(fp, $AudioBandBits) as band_key))""".stripMargin))
          .as("b"))
      .select(col("media_id"), col("n_frames"),
        col("b.band_id").as("band_id"), col("b.band_key").as("band_key"))
    val capped = Dedup.capped(banded, "media_id", Seq("n_frames", "band_id", "band_key"),
      AudioMaxBucket)
    Dedup.bandPairs(capped, capped, "media_id", _ < _, "ma", "mb")
      .join(fps.as("pa"), col("ma") === col("pa.media_id"))
      .join(fps.as("pb"), col("mb") === col("pb.media_id"))
      .select(col("ma"), col("mb"),
        expr("bit_count(pa.fp ^ pb.fp)").cast("long").as("hamming"))
      .where(col("hamming") <= AudioMaxHam)
  }

  // ---------------------------------------------------- mm_phash_cc
  /** Image near-dup CLUSTERS — [[mmPhashPairs]]'s verified pairs
    * closed transitively with the text-dedup machinery
    * ([[graft.operators.Dedup.propagateMin]] /
    * [[graft.operators.Dedup.ccOutput]] — the SAME min-label fixpoint
    * and skew-safe size idiom, shared not re-implemented): every image
    * labeled with its component's min media_id, sizes via aggregate +
    * join-back. The media-lake reading: a re-encode chain (A≈B, B≈C
    * at Hamming ≤ 3 each, A vs C at 6) still collapses to ONE keeper,
    * which pairwise verification alone cannot give. Oracle = the
    * pairs SQL + the recursive-CTE closure (the dedup_cc shape).
    *
    * Closure runs the O(log n) star contraction
    * ([[graft.operators.Dedup.starContract]]), not min-label
    * propagation: perceptual-hash graphs CHAIN (each re-encode drifts
    * a few bits, A→B→C→…), so components have large diameter by
    * construction — sf0.1 already exceeds the propagation round cap
    * where the text dup graph does not. */
  def mmPhashCc(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Dedup
    val edges = mmPhashPairs(s, dir)
      .select(col("ma").as("src"), col("mb").as("dst"))
    val (star, _) = Dedup.starContract(edges)
    val labels = Tables.documents(s, dir).select(col("doc_id"))
      .join(star.withColumnRenamed("u", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("v"), col("doc_id")).as("label"))
    Dedup.ccOutput(labels)
      .withColumnRenamed("doc_id", "media_id")
  }

  lazy val mmPhashCcSql: String =
    s"""WITH RECURSIVE pairs AS MATERIALIZED (SELECT ma, mb FROM ($mmPhashPairsSql)),
       |sym AS MATERIALIZED (SELECT ma AS src, mb AS dst FROM pairs
       |        UNION ALL SELECT mb, ma FROM pairs),
       |reach(src, dst) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT r.src, s.dst FROM reach r JOIN sym s ON s.src = r.dst),
       |lab AS MATERIALIZED (SELECT src AS media_id, MIN(dst) AS cluster_id
       |                     FROM reach GROUP BY src)
       |SELECT media_id, cluster_id,
       |       COUNT(1) OVER (PARTITION BY cluster_id) AS cluster_size,
       |       CAST(media_id = cluster_id AS INT) AS is_canonical
       |FROM lab""".stripMargin

  /** Twin: [[mmAudioFpSql]]'s fingerprint table verbatim, then the
    * identical band/cap/verify chain (ROW_NUMBER cap = the same
    * smallest-id selection as the bounded aggregate). */
  lazy val mmAudioPairsSql: String = {
    val mask = (1L << AudioBandBits) - 1
    s"""WITH fps AS ($mmAudioFpSql),
       |bands0 AS (
       |  SELECT media_id, n_frames, 0 AS band_id, fp & $mask AS band_key FROM fps
       |  UNION ALL SELECT media_id, n_frames, 1, fp >> $AudioBandBits FROM fps),
       |bands AS (
       |  SELECT media_id, n_frames, band_id, band_key FROM (
       |    SELECT media_id, n_frames, band_id, band_key,
       |           ROW_NUMBER() OVER (PARTITION BY n_frames, band_id, band_key
       |                              ORDER BY media_id) AS rn
       |    FROM bands0) WHERE rn <= $AudioMaxBucket),
       |cand AS (
       |  SELECT DISTINCT a.media_id AS ma, b.media_id AS mb
       |  FROM bands a JOIN bands b
       |    ON a.n_frames = b.n_frames AND a.band_id = b.band_id
       |   AND a.band_key = b.band_key AND a.media_id < b.media_id)
       |SELECT c.ma, c.mb,
       |       CAST(bit_count(xor(pa.fp, pb.fp)) AS BIGINT) AS hamming
       |FROM cand c
       |JOIN fps pa ON c.ma = pa.media_id
       |JOIN fps pb ON c.mb = pb.media_id
       |WHERE bit_count(xor(pa.fp, pb.fp)) <= $AudioMaxHam""".stripMargin
  }
}
