package graft.multimodal

import java.nio.{ByteBuffer, ByteOrder}

/** Pure-JVM media decoders, no codec libraries: hand-rolled parsers for the
  * fully specified byte layouts (RIFF/WAVE PCM16 audio, binary PPM P6
  * images, MP4/ISO-BMFF container metadata) plus `javax.imageio.ImageIO`
  * (pure JDK) for JPEG/PNG/GIF/BMP. Every image format feeds one feature
  * kernel (`imageFeature`). MP4 takes its feature vector from
  * `Media.decodeStub`, because frame decode needs a native codec; its
  * duration and size come from the box walk.
  *
  * Synth counterparts generate deterministic well-formed payloads from a
  * media_ref (the offline stand-in for an object-store fetch), so the real
  * parse → feature path executes end-to-end in tests and queries.
  */
object Decoders {

  // ---- RIFF/WAVE PCM16 ----

  def isWav(b: Array[Byte]): Boolean =
    b.length > 44 && b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
      b(8) == 'W' && b(9) == 'A' && b(10) == 'V' && b(11) == 'E'

  /** Deterministic mono PCM16 WAV: a seeded mix of two square-ish waves,
    * 1600–4800 samples at 8 kHz (200–600 ms).
    */
  def synthWav(mediaRef: String): Array[Byte] = {
    val seed = mediaRef.hashCode
    val rate = 8000
    val n = 1600 + math.floorMod(seed, 3201)
    val p1 = 20 + math.floorMod(seed >> 3, 80)
    val p2 = 7 + math.floorMod(seed >> 7, 23)
    val buf = ByteBuffer.allocate(44 + 2 * n).order(ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes); buf.putInt(36 + 2 * n); buf.put("WAVE".getBytes)
    buf.put("fmt ".getBytes); buf.putInt(16)
    buf.putShort(1); buf.putShort(1)            // PCM, mono
    buf.putInt(rate); buf.putInt(rate * 2)      // sample rate, byte rate
    buf.putShort(2); buf.putShort(16)           // block align, bits
    buf.put("data".getBytes); buf.putInt(2 * n)
    var i = 0
    while (i < n) {
      val a = if ((i / p1) % 2 == 0) 9000 else -9000
      val b = if ((i / p2) % 2 == 0) 3000 else -3000
      buf.putShort((a + b).toShort)
      i += 1
    }
    buf.array()
  }

  /** Parse a PCM16 mono/stereo WAV: (sampleRate, channels, samples). Walks
    * RIFF chunks properly (fmt may not be first; chunk sizes pad to even).
    * The walk only RECORDS the data chunk's extent and decodes it after the
    * whole walk — a data chunk that precedes fmt would otherwise be skipped
    * because the bit depth isn't known yet (ADVICE round 3). Non-16-bit PCM
    * raises instead of silently yielding zeroed features; `Media.decode`
    * falls back to the stub for such payloads.
    */
  def decodeWav(bytes: Array[Byte]): (Int, Int, Array[Short]) = {
    val buf = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    buf.position(12) // past RIFF<size>WAVE
    var rate = 0; var channels = 0; var bits = 0
    var dataOff = -1; var dataLen = 0
    while (buf.remaining() >= 8) {
      val id = new String(Array(buf.get(), buf.get(), buf.get(), buf.get()))
      val size = buf.getInt()
      val next = buf.position() + size + (size & 1)
      id match {
        case "fmt " =>
          buf.getShort() // audio format (1 = PCM, asserted by caller's isWav use)
          channels = buf.getShort().toInt
          rate = buf.getInt()
          buf.getInt(); buf.getShort() // byte rate, block align
          bits = buf.getShort().toInt
        case "data" =>
          // canonical RIFF takes the FIRST data chunk; recording every one
          // would silently decode only the last (ADVICE round 4)
          if (dataOff < 0) {
            dataOff = buf.position()
            dataLen = math.min(size, bytes.length - dataOff)
          }
        case _ => ()
      }
      buf.position(math.min(next, bytes.length))
    }
    if (bits != 16)
      throw new IllegalArgumentException(s"unsupported WAV bit depth $bits (PCM16 only)")
    val samples =
      if (dataOff < 0) Array.empty[Short]
      else {
        val db = ByteBuffer.wrap(bytes, dataOff, dataLen).order(ByteOrder.LITTLE_ENDIAN)
        val n = dataLen / 2
        val out = new Array[Short](n)
        var i = 0
        while (i < n) { out(i) = db.getShort(); i += 1 }
        out
      }
    (rate, math.max(channels, 1), samples)
  }

  /** Audio features from decoded PCM: [rms, zero-crossing rate, mean,
    * peak, e(q1..q4)] — energy per time quarter, all normalized to [−1, 1].
    */
  def wavFeature(cell: Media.MediaCell): Media.MediaFeature = {
    val (rate, channels, s) = decodeWav(cell.payload)
    val n = s.length
    val norm = 32768.0
    var sum = 0.0; var sq = 0.0; var zc = 0; var peak = 0.0
    val qE = new Array[Double](4)
    var i = 0
    while (i < n) {
      val v = s(i) / norm
      sum += v; sq += v * v
      if (i > 0 && (s(i) >= 0) != (s(i - 1) >= 0)) zc += 1
      if (math.abs(v) > peak) peak = math.abs(v)
      qE(math.min(i * 4 / math.max(n, 1), 3)) += v * v
      i += 1
    }
    val durationMs = if (rate > 0) n.toLong * 1000 / (rate * channels) else 0L
    Media.MediaFeature(cell.doc_id, cell.span_idx, cell.kind, cell.media_ref,
      n_bytes = cell.payload.length.toLong,
      width = 0, height = 0, duration_ms = durationMs,
      feature = Array(
        math.sqrt(sq / math.max(n, 1)).toFloat,
        (zc.toDouble / math.max(n, 1)).toFloat,
        (sum / math.max(n, 1)).toFloat,
        peak.toFloat) ++ qE.map(e => (e / math.max(n / 4, 1)).toFloat))
  }

  // ---- binary PPM (P6) ----

  def isPpm(b: Array[Byte]): Boolean =
    b.length > 10 && b(0) == 'P' && b(1) == '6'

  /** Deterministic P6 image: `synthImage`'s pattern behind a P6 header. */
  def synthPpm(mediaRef: String): Array[Byte] = {
    val img = synthImage(mediaRef)
    val w = img.getWidth; val h = img.getHeight
    val px = img.getRGB(0, 0, w, h, null, 0, w)
      .flatMap(p => Array((p >> 16).toByte, (p >> 8).toByte, p.toByte))
    s"P6\n$w $h\n255\n".getBytes ++ px
  }

  /** Parse P6: (width, height, interleaved RGB bytes). Handles comments and
    * arbitrary whitespace per the spec.
    */
  def decodePpm(bytes: Array[Byte]): (Int, Int, Array[Byte]) = {
    var pos = 2 // past "P6"
    def nextInt(): Int = {
      while (pos < bytes.length &&
        (bytes(pos).toChar.isWhitespace || bytes(pos) == '#')) {
        if (bytes(pos) == '#') while (pos < bytes.length && bytes(pos) != '\n') pos += 1
        else pos += 1
      }
      var v = 0
      while (pos < bytes.length && bytes(pos) >= '0' && bytes(pos) <= '9') {
        v = v * 10 + (bytes(pos) - '0'); pos += 1
      }
      v
    }
    val w = nextInt(); val h = nextInt(); nextInt() // maxval
    pos += 1 // single whitespace after maxval
    (w, h, bytes.slice(pos, pos + w * h * 3))
  }

  /** 0xRRGGBB of pixel (x, y) in `decodePpm`'s interleaved bytes. Reads
    * only the bytes the payload carries: a header that claims more pixels
    * than follow fails on the first missing one.
    */
  private def ppmRgb(px: Array[Byte], w: Int)(x: Int, y: Int): Int = {
    val o = (y * w + x) * 3
    ((px(o) & 0xff) << 16) | ((px(o + 1) & 0xff) << 8) | (px(o + 2) & 0xff)
  }

  private def luma(rgb: Int): Double =
    0.299 * ((rgb >> 16) & 0xff) + 0.587 * ((rgb >> 8) & 0xff) + 0.114 * (rgb & 0xff)

  /** Image features of a w × h image whose pixel (x, y) is `rgb(x, y)`
    * (0xRRGGBB): [meanR, meanG, meanB, meanLuma, lumaVar, edge-ness, aspect,
    * fill]. Every image format shares this vector, so downstream schemas are
    * format-agnostic.
    */
  private def imageFeature(cell: Media.MediaCell, w: Int, h: Int,
                           rgb: (Int, Int) => Int): Media.MediaFeature = {
    val n = math.max(w * h, 1)
    var r = 0.0; var g = 0.0; var b = 0.0; var lumaSum = 0.0; var luma2 = 0.0
    var edge = 0.0
    var y = 0
    while (y < h) {
      var x = 0
      var prevL = 0.0
      while (x < w) {
        val p = rgb(x, y)
        val l = luma(p)
        r += (p >> 16) & 0xff; g += (p >> 8) & 0xff; b += p & 0xff
        lumaSum += l; luma2 += l * l
        if (x > 0) edge += math.abs(l - prevL)
        prevL = l
        x += 1
      }
      y += 1
    }
    val mL = lumaSum / n
    Media.MediaFeature(cell.doc_id, cell.span_idx, cell.kind, cell.media_ref,
      n_bytes = cell.payload.length.toLong,
      width = w, height = h, duration_ms = 0L,
      feature = Array(
        (r / n / 255).toFloat, (g / n / 255).toFloat, (b / n / 255).toFloat,
        (mL / 255).toFloat,
        ((luma2 / n - mL * mL) / (255.0 * 255.0)).toFloat,
        (edge / math.max((w - 1) * h, 1) / 255).toFloat,
        (w.toFloat / math.max(h, 1)),
        1f))
  }

  /** `imageFeature` of a P6 payload. */
  def ppmFeature(cell: Media.MediaCell): Media.MediaFeature = {
    val (w, h, px) = decodePpm(cell.payload)
    imageFeature(cell, w, h, ppmRgb(px, w))
  }

  // ---- JPEG / PNG / GIF / BMP via javax.imageio (pure JDK) ----
  // ImageIO's JPEG/PNG/GIF/BMP readers ship in every JRE; no native codec
  // library is involved.

  def isJpeg(b: Array[Byte]): Boolean =
    b.length > 3 && (b(0) & 0xff) == 0xFF && (b(1) & 0xff) == 0xD8 && (b(2) & 0xff) == 0xFF

  def isPng(b: Array[Byte]): Boolean =
    b.length > 8 && (b(0) & 0xff) == 0x89 && b(1) == 'P' && b(2) == 'N' && b(3) == 'G'

  def isGif(b: Array[Byte]): Boolean =
    b.length > 6 && b(0) == 'G' && b(1) == 'I' && b(2) == 'F' && b(3) == '8'

  def isBmp(b: Array[Byte]): Boolean =
    b.length > 14 && b(0) == 'B' && b(1) == 'M'

  def isImageIo(b: Array[Byte]): Boolean =
    isJpeg(b) || isPng(b) || isGif(b) || isBmp(b)

  /** The seeded 8–40 px gradient+checker pattern every image synth encodes
    * (PPM, PNG, JPEG), so all three image paths decode comparable content.
    */
  private def synthImage(mediaRef: String): java.awt.image.BufferedImage = {
    val seed = mediaRef.hashCode
    val w = 8 + math.floorMod(seed, 33)
    val h = 8 + math.floorMod(seed >> 5, 33)
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val r = (x * 255 / w) & 0xff
        val g = (y * 255 / h) & 0xff
        val b = if (((x / 4) + (y / 4)) % 2 == 0) 200 else 30
        img.setRGB(x, y, (r << 16) | (g << 8) | b)
        x += 1
      }
      y += 1
    }
    img
  }

  private def encodeImage(img: java.awt.image.BufferedImage, fmt: String): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, fmt, bos)
    bos.toByteArray
  }

  /** Deterministic PNG (lossless — decodes back to the exact pattern). */
  def synthPng(mediaRef: String): Array[Byte] = encodeImage(synthImage(mediaRef), "png")

  /** Deterministic JPEG (lossy — decoded pixels approximate the pattern). */
  def synthJpeg(mediaRef: String): Array[Byte] = encodeImage(synthImage(mediaRef), "jpg")

  /** `imageFeature` of any ImageIO-readable payload (JPEG/PNG/GIF/BMP).
    * Raises on undecodable bytes; `Media.decode` falls back to the stub.
    */
  def imageIoFeature(cell: Media.MediaCell): Media.MediaFeature = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(cell.payload))
    if (img == null)
      throw new IllegalArgumentException("ImageIO could not decode payload")
    imageFeature(cell, img.getWidth, img.getHeight, img.getRGB(_, _))
  }

  // ---- MP4 / ISO-BMFF container METADATA (pure-JVM box walk) ----
  // FRAME decode needs a native codec, but the container itself (nested
  // size+fourcc boxes) is a fully specified binary layout: ftyp → moov →
  // mvhd gives the real duration (duration/timescale) and moov → trak → tkhd
  // the real presentation width/height (16.16 fixed point) without decoding
  // a single frame. The per-frame feature vector stays the stub's stand-in.

  def isMp4(b: Array[Byte]): Boolean =
    b.length > 12 && b(4) == 'f' && b(5) == 't' && b(6) == 'y' && b(7) == 'p'

  /** Deterministic minimal MP4: ftyp + moov(mvhd + trak(tkhd)) + a stub mdat,
    * with seeded duration (1–60 s), width and height — well-formed per
    * ISO/IEC 14496-12 so the box walk exercises the real layout.
    */
  def synthMp4(mediaRef: String): Array[Byte] = {
    val seed = mediaRef.hashCode
    val timescale = 600
    val durUnits = timescale * (1 + math.floorMod(seed, 60))
    val w = 160 + 16 * math.floorMod(seed >> 5, 40)
    val h = 120 + 16 * math.floorMod(seed >> 9, 30)
    val buf = ByteBuffer.allocate(20 + 216 + 24).order(ByteOrder.BIG_ENDIAN)
    def unityMatrix(): Unit =
      Seq(0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0, 0x40000000).foreach(buf.putInt(_))
    // ftyp (20)
    buf.putInt(20); buf.put("ftyp".getBytes); buf.put("isom".getBytes)
    buf.putInt(0x200); buf.put("isom".getBytes)
    // moov (8 + mvhd 108 + trak 100 = 216)
    buf.putInt(216); buf.put("moov".getBytes)
    //   mvhd v0 (108)
    buf.putInt(108); buf.put("mvhd".getBytes)
    buf.putInt(0)                       // version 0 + flags
    buf.putInt(0); buf.putInt(0)        // creation, modification
    buf.putInt(timescale); buf.putInt(durUnits)
    buf.putInt(0x00010000)              // rate 1.0
    buf.putShort(0x0100.toShort)        // volume 1.0
    buf.putShort(0); buf.putLong(0)     // reserved
    unityMatrix()
    (0 until 6).foreach(_ => buf.putInt(0)) // pre_defined
    buf.putInt(2)                       // next_track_id
    //   trak (8 + tkhd 92 = 100)
    buf.putInt(100); buf.put("trak".getBytes)
    //     tkhd v0 (92)
    buf.putInt(92); buf.put("tkhd".getBytes)
    buf.putInt(7)                       // version 0 + flags (enabled|in movie|in preview)
    buf.putInt(0); buf.putInt(0)        // creation, modification
    buf.putInt(1)                       // track_id
    buf.putInt(0)                       // reserved
    buf.putInt(durUnits)                // duration (movie timescale)
    buf.putLong(0)                      // reserved
    buf.putShort(0); buf.putShort(0)    // layer, alternate_group
    buf.putShort(0); buf.putShort(0)    // volume (video track = 0), reserved
    unityMatrix()
    buf.putInt(w << 16); buf.putInt(h << 16) // 16.16 fixed point
    // mdat stub (24): the frame payload a codec would read
    buf.putInt(24); buf.put("mdat".getBytes); buf.put(Media.opaqueBytes(mediaRef), 0, 16)
    buf.array()
  }

  /** Walk the box tree: (durationMs from mvhd, width, height from the first
    * visual tkhd). Handles 64-bit largesize (size == 1), size-to-end
    * (size == 0), and both version-0 and version-1 mvhd/tkhd layouts.
    * Returns zeros when the boxes are absent; `mp4Feature` raises then so
    * `Media.decode` falls back to the stub.
    */
  def decodeMp4Meta(bytes: Array[Byte]): (Long, Int, Int) = {
    val buf = ByteBuffer.wrap(bytes).order(ByteOrder.BIG_ENDIAN)
    var durationMs = 0L
    var width = 0
    var height = 0
    def walk(start: Int, end: Int): Unit = {
      var pos = start
      while (pos + 8 <= end) {
        var size = buf.getInt(pos).toLong & 0xffffffffL
        val typ = new String(bytes, pos + 4, 4, "ISO-8859-1")
        var hdr = 8
        if (size == 1) {
          if (pos + 16 > end) return
          size = buf.getLong(pos + 8); hdr = 16
        } else if (size == 0) size = (end - pos).toLong
        if (size < hdr) return // corrupt size: stop walking, keep findings
        val boxEnd = math.min(pos.toLong + size, end.toLong).toInt
        typ match {
          case "moov" | "trak" => walk(pos + hdr, boxEnd)
          case "mvhd" if boxEnd - pos >= hdr + 4 + 24 =>
            val v = bytes(pos + hdr) & 0xff
            if (v == 1 && boxEnd - pos >= hdr + 4 + 28) {
              val ts = buf.getInt(pos + hdr + 4 + 16).toLong & 0xffffffffL
              val dur = buf.getLong(pos + hdr + 4 + 20)
              if (ts > 0) durationMs = dur * 1000 / ts
            } else if (v == 0) {
              val ts = buf.getInt(pos + hdr + 4 + 8).toLong & 0xffffffffL
              val dur = buf.getInt(pos + hdr + 4 + 12).toLong & 0xffffffffL
              if (ts > 0) durationMs = dur * 1000 / ts
            }
          case "tkhd" if width == 0 && boxEnd - pos >= hdr + 1 =>
            val v = bytes(pos + hdr) & 0xff
            // after version/flags: v0 = creation4 mod4 id4 res4 dur4 (20),
            // v1 = creation8 mod8 id4 res4 dur8 (32); then res8 layer2 alt2
            // volume2 res2 matrix36 (52); then width/height as 16.16
            val off = pos + hdr + 4 + (if (v == 1) 32 else 20) + 52
            if (off + 8 <= boxEnd) {
              width = buf.getInt(off) >>> 16
              height = buf.getInt(off + 4) >>> 16
            }
          case _ => ()
        }
        pos = boxEnd
      }
    }
    walk(0, bytes.length)
    (durationMs, width, height)
  }

  /** Video features: REAL container metadata (duration, presentation size)
    * from the box walk; the 8-dim per-content feature stays `decodeStub`'s
    * byte-hash stand-in because frame decode needs a native codec. Raises on
    * payloads with no mvhd/tkhd so `Media.decode` falls back to the stub.
    */
  def mp4Feature(cell: Media.MediaCell): Media.MediaFeature = {
    val (durMs, w, h) = decodeMp4Meta(cell.payload)
    if (durMs <= 0 && w <= 0)
      throw new IllegalArgumentException("MP4 payload carries no mvhd/tkhd metadata")
    Media.decodeStub(cell).copy(width = w, height = h, duration_ms = durMs)
  }

  /** Average-pool resize of a P6 payload to (ow × oh) luma — the standard
    * pre-batch resize, decoupled from the feature path so pipelines can call
    * it directly.
    */
  def resizeLuma(bytes: Array[Byte], ow: Int, oh: Int): Array[Float] = {
    val (w, h, px) = decodePpm(bytes)
    val out = new Array[Float](ow * oh)
    val cnt = new Array[Int](ow * oh)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val l = luma(ppmRgb(px, w)(x, y))
        val t = math.min(y * oh / math.max(h, 1), oh - 1) * ow +
          math.min(x * ow / math.max(w, 1), ow - 1)
        out(t) += l.toFloat; cnt(t) += 1
        x += 1
      }
      y += 1
    }
    var i = 0
    while (i < out.length) { out(i) = if (cnt(i) > 0) out(i) / cnt(i) / 255f else 0f; i += 1 }
    out
  }
}
