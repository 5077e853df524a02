package graft

import graft.multimodal.{Decoders, Media}
import java.nio.{ByteBuffer, ByteOrder}
import org.scalatest.funsuite.AnyFunSuite

/** Byte-level fixtures for the pure-JVM media decoders: WAVs and PPMs are
  * hand-assembled here (not via the synth helpers) so parser bugs cannot
  * self-verify.
  */
class DecodersSpec extends AnyFunSuite {

  private def handWav(samples: Array[Short], rate: Int): Array[Byte] = {
    val n = samples.length
    val buf = ByteBuffer.allocate(44 + 2 * n).order(ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes); buf.putInt(36 + 2 * n); buf.put("WAVE".getBytes)
    buf.put("fmt ".getBytes); buf.putInt(16)
    buf.putShort(1); buf.putShort(1); buf.putInt(rate); buf.putInt(rate * 2)
    buf.putShort(2); buf.putShort(16)
    buf.put("data".getBytes); buf.putInt(2 * n)
    samples.foreach(buf.putShort)
    buf.array()
  }

  test("WAV: header parse, samples, duration, RMS and zero crossings") {
    // 800 samples of a ±16384 square wave with period 2 at 8 kHz = 100 ms
    val samples = Array.tabulate(800)(i => if (i % 2 == 0) 16384 else -16384).map(_.toShort)
    val bytes = handWav(samples, 8000)
    assert(Decoders.isWav(bytes))
    val (rate, channels, s) = Decoders.decodeWav(bytes)
    assert(rate == 8000 && channels == 1 && s.length == 800 && s(0) == 16384)
    val feat = Decoders.wavFeature(Media.MediaCell("d", 0, "audio", "r", bytes))
    assert(feat.duration_ms == 100)
    assert(math.abs(feat.feature(0) - 0.5f) < 1e-4)        // RMS = 16384/32768
    assert(math.abs(feat.feature(1) - 799f / 800f) < 1e-4) // sign flips every step
    assert(math.abs(feat.feature(3) - 0.5f) < 1e-4)        // peak
  }

  test("WAV: chunk walker skips unknown chunks before fmt/data") {
    // insert a junk chunk between WAVE and fmt
    val base = handWav(Array[Short](100, -100, 100, -100), 8000)
    val junk = ByteBuffer.allocate(base.length + 12).order(ByteOrder.LITTLE_ENDIAN)
    junk.put(base, 0, 12)
    junk.put("LIST".getBytes); junk.putInt(4); junk.putInt(0xdeadbeef)
    junk.put(base, 12, base.length - 12)
    val withJunk = junk.array()
    // patch RIFF size (not validated by the parser, but keep it honest)
    val (rate, _, s) = Decoders.decodeWav(withJunk)
    assert(rate == 8000 && s.toSeq == Seq[Short](100, -100, 100, -100))
  }

  test("PPM: parse with comment, exact channel means, resize") {
    // 2×2: red, green, blue, white — with a header comment
    val px = Array[Int](255, 0, 0, 0, 255, 0, 0, 0, 255, 255, 255, 255).map(_.toByte)
    val bytes = "P6\n# test image\n2 2\n255\n".getBytes ++ px
    assert(Decoders.isPpm(bytes))
    val (w, h, rgb) = Decoders.decodePpm(bytes)
    assert(w == 2 && h == 2 && rgb.length == 12)
    val feat = Decoders.ppmFeature(Media.MediaCell("d", 0, "image", "r", bytes))
    assert(feat.width == 2 && feat.height == 2)
    // mean of each channel = (255+0+0+255)/4/255 = 0.5
    assert(math.abs(feat.feature(0) - 0.5f) < 1e-4)
    assert(math.abs(feat.feature(1) - 0.5f) < 1e-4)
    assert(math.abs(feat.feature(2) - 0.5f) < 1e-4)
    // resize 2×2→1×1: single cell = mean luma of the four pixels
    val lum = Decoders.resizeLuma(bytes, 1, 1)
    val want = (0.299 * 255 + 0.587 * 255 + 0.114 * 255 + // white
      0.299 * 255 + 0.587 * 255 + 0.114 * 255) / 4 / 255  // + red.r + green.g + blue.b
    assert(lum.length == 1 && math.abs(lum(0) - want) < 1e-3)
  }

  test("WAV: data chunk BEFORE fmt still decodes (two-pass chunk walk)") {
    // RIFF/WAVE with the data chunk first, then fmt — legal RIFF ordering
    val samples = Array[Short](1000, -1000, 1000, -1000)
    val buf = ByteBuffer.allocate(44 + 2 * samples.length).order(ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes); buf.putInt(36 + 2 * samples.length); buf.put("WAVE".getBytes)
    buf.put("data".getBytes); buf.putInt(2 * samples.length)
    samples.foreach(buf.putShort)
    buf.put("fmt ".getBytes); buf.putInt(16)
    buf.putShort(1); buf.putShort(1); buf.putInt(8000); buf.putInt(16000)
    buf.putShort(2); buf.putShort(16)
    val (rate, _, s) = Decoders.decodeWav(buf.array())
    assert(rate == 8000 && s.toSeq == samples.toSeq)
  }

  test("WAV: unsupported bit depth raises (and dispatch falls back to stub)") {
    // 8-bit PCM header with a data chunk
    val buf = ByteBuffer.allocate(44 + 4).order(ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes); buf.putInt(40); buf.put("WAVE".getBytes)
    buf.put("fmt ".getBytes); buf.putInt(16)
    buf.putShort(1); buf.putShort(1); buf.putInt(8000); buf.putInt(8000)
    buf.putShort(1); buf.putShort(8) // block align 1, bits 8
    buf.put("data".getBytes); buf.putInt(4)
    buf.putInt(0x01020304)
    val bytes = buf.array()
    assertThrows[IllegalArgumentException](Decoders.decodeWav(bytes))
    // the dispatch must not die on it — it degrades to the stub's shape
    val feat = Media.decode(Media.MediaCell("d", 0, "audio", "r", bytes))
    assert(feat.n_bytes == bytes.length && feat.feature.length == 8)
  }

  test("JPEG/PNG: real ImageIO decode — magic bytes, dims, channel means") {
    // hand-build a 4×2 image: left half pure red, right half pure blue
    val img = new java.awt.image.BufferedImage(4, 2, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 2; x <- 0 until 4)
      img.setRGB(x, y, if (x < 2) 0xFF0000 else 0x0000FF)
    val png = { val b = new java.io.ByteArrayOutputStream(); javax.imageio.ImageIO.write(img, "png", b); b.toByteArray }
    val jpg = { val b = new java.io.ByteArrayOutputStream(); javax.imageio.ImageIO.write(img, "jpg", b); b.toByteArray }
    assert(Decoders.isPng(png) && !Decoders.isJpeg(png) && !Decoders.isPpm(png))
    assert(Decoders.isJpeg(jpg) && !Decoders.isPng(jpg) && !Decoders.isWav(jpg))
    // PNG is lossless: channel means are exact — meanR = meanB = 0.5, meanG = 0
    val fp = Decoders.imageIoFeature(Media.MediaCell("d", 0, "image", "r.png", png))
    assert(fp.width == 4 && fp.height == 2)
    assert(math.abs(fp.feature(0) - 0.5f) < 1e-4)
    assert(math.abs(fp.feature(1) - 0.0f) < 1e-4)
    assert(math.abs(fp.feature(2) - 0.5f) < 1e-4)
    assert(math.abs(fp.feature(6) - 2.0f) < 1e-4) // aspect 4/2
    // JPEG is lossy: dims exact, means within codec tolerance
    val fj = Decoders.imageIoFeature(Media.MediaCell("d", 0, "image", "r.jpg", jpg))
    assert(fj.width == 4 && fj.height == 2)
    assert(math.abs(fj.feature(0) - 0.5f) < 0.15 && math.abs(fj.feature(2) - 0.5f) < 0.15)
  }

  test("dispatch routes JPEG/PNG to ImageIO, not the stub") {
    val png = Decoders.synthPng("m://img1.png")
    val jpg = Decoders.synthJpeg("m://img2.jpg")
    assert(Decoders.isImageIo(png) && Decoders.isImageIo(jpg))
    val fp = Media.decode(Media.MediaCell("d", 0, "image", "m://img1.png", png))
    val fj = Media.decode(Media.MediaCell("d", 0, "image", "m://img2.jpg", jpg))
    // the synth pattern's width/height derive from the ref hash — the stub
    // would fabricate different dims from a payload digest
    val expW = 8 + math.floorMod("m://img1.png".hashCode, 33)
    val expH = 8 + math.floorMod("m://img1.png".hashCode >> 5, 33)
    assert(fp.width == expW && fp.height == expH)
    assert(fj.width == 8 + math.floorMod("m://img2.jpg".hashCode, 33))
    // PNG round-trips the synth gradient exactly: same features as the PPM
    // synth of the same ref (identical pattern, different container)
    val ppmF = Decoders.ppmFeature(Media.MediaCell("d", 0, "image", "m://img1.png",
      Decoders.synthPpm("m://img1.png")))
    assert(fp.feature.toSeq == ppmF.feature.toSeq)
  }

  test("BMP of the synthetic pattern routes to ImageIO with exactly the PPM features") {
    val ref = "m://img1.png"
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(Decoders.synthPng(ref)))
    val bmp = { val b = new java.io.ByteArrayOutputStream(); javax.imageio.ImageIO.write(img, "bmp", b); b.toByteArray }
    assert(Decoders.isBmp(bmp) && Decoders.isImageIo(bmp) && !Decoders.isPpm(bmp))
    val fb = Media.decode(Media.MediaCell("d", 0, "image", ref, bmp))
    val ppmF = Decoders.ppmFeature(Media.MediaCell("d", 0, "image", ref, Decoders.synthPpm(ref)))
    assert(fb.width == ppmF.width && fb.height == ppmF.height)
    assert(fb.feature.toSeq == ppmF.feature.toSeq)
  }

  test("PPM: a header claiming 100000×100000 over 12 pixel bytes degrades to the stub") {
    val bytes = "P6\n100000 100000\n255\n".getBytes ++ Array.fill[Byte](12)(7)
    val f = Media.decode(Media.MediaCell("d", 0, "image", "m://huge.ppm", bytes))
    // the stub's digest-derived dims, not the header's
    assert(f.n_bytes == bytes.length && f.width == 513 && f.height == 285 && f.duration_ms == 0)
    assert(f.feature.toSeq == Seq(0.0625f, 0.4375f, 0.125f, 0.625f, 0.75f, 0.625f, 0.4375f, 0.1875f))
  }

  test("decode pins each payload kind's features and the synthetic image bytes") {
    // literals recorded from the decoders before their image kernels, image
    // synths and byte-hash stand-in were merged; every value must stay exact
    def check(kind: String, ref: String, payload: Array[Byte],
              dims: (Int, Int, Long, Long), feature: Float*): Unit = {
      val f = Media.decode(Media.MediaCell("d", 0, kind, ref, payload))
      assert((f.width, f.height, f.duration_ms, f.n_bytes) == dims, ref)
      assert(f.feature.toSeq == feature, ref)
    }
    check("audio", "m://pin.wav", Decoders.synthWav("m://pin.wav"), (0, 0, 310L, 5018L),
      0.28961992f, 0.020506635f, 0.0016197509f, 0.36621094f,
      0.084115975f, 0.08395401f, 0.084115975f, 0.083738044f)
    check("image", "m://pin.ppm", Decoders.synthPpm("m://pin.ppm"), (36, 20, 0L, 2173L),
      0.48431373f, 0.4735294f, 0.4583878f, 0.47502777f, 0.03750266f, 0.023703193f, 1.8f, 1.0f)
    check("image", "m://pin.png", Decoders.synthPng("m://pin.png"), (34, 18, 0L, 1268L),
      0.48431373f, 0.47058824f, 0.45315903f, 0.47270522f,
      0.03723774f, 0.02492656f, 1.8888888f, 1.0f)
    check("image", "m://pin.jpg", Decoders.synthJpeg("m://pin.jpg"), (39, 37, 0L, 1110L),
      0.48476622f, 0.48484775f, 0.45257294f, 0.48114404f,
      0.03741172f, 0.03150073f, 1.054054f, 1.0f)
    check("video", "m://pin.mp4", Decoders.synthMp4("m://pin.mp4"), (464, 136, 20000L, 260L),
      0.8125f, 0.5625f, 0.75f, 0.625f, 0.6875f, 0.3125f, 0.625f, 0.0f)
    check("audio", "m://pin.bin", Array.tabulate(97)(i => ((i * 37 + 11) & 0xff).toByte),
      (260, 32, 39384L, 97L), 0.25f, 0.9375f, 0.5f, 0.0625f, 0.25f, 0.8125f, 0.8125f, 0.0625f)
    def sha256(b: Array[Byte]): String =
      java.security.MessageDigest.getInstance("SHA-256").digest(b).map("%02x".format(_)).mkString
    assert(sha256(Decoders.synthPpm("m://pin-a")) ==
      "90f871f689a097af7c25420a2287fa9ae52def8040d3e9aac6e7322ff61496f1")
    assert(sha256(Decoders.synthPng("m://pin-a")) ==
      "fb3878f2c9a3fd5bb36ce3ad9bf9cbd64b05ec8ff24799eeeb8a327116f86839")
    assert(sha256(Decoders.synthPpm("m://pin-b")) ==
      "6c3419b4d9f975bf6175d21c1b670f9bd812cae80a9c7d689f26540cdacc0671")
    assert(sha256(Decoders.synthPng("m://pin-b")) ==
      "9d0e83de07f0b586ef397e9c4ab65ab644c04b0e973785ee6cb46a89bc8585ad")
  }

  test("MP4: hand-built box tree parses to real duration and dimensions") {
    // hand-assemble (not via synthMp4, so parser bugs cannot self-verify):
    // ftyp + moov(mvhd v0: timescale 1000, duration 2500 → 2500 ms;
    // trak(tkhd v0: 320×240 as 16.16 fixed point))
    def box(typ: String, payload: Array[Byte]): Array[Byte] = {
      val b = ByteBuffer.allocate(8 + payload.length).order(ByteOrder.BIG_ENDIAN)
      b.putInt(8 + payload.length); b.put(typ.getBytes); b.put(payload)
      b.array()
    }
    val mvhd = {
      val b = ByteBuffer.allocate(100).order(ByteOrder.BIG_ENDIAN)
      b.putInt(0)            // version/flags
      b.putInt(0); b.putInt(0)
      b.putInt(1000)         // timescale
      b.putInt(2500)         // duration
      b.array()              // rest zeroed (rate/volume/matrix unused by the walk)
    }
    val tkhd = {
      val b = ByteBuffer.allocate(84).order(ByteOrder.BIG_ENDIAN)
      b.putInt(0)                         // version/flags
      b.putInt(0); b.putInt(0)            // creation, modification
      b.putInt(1); b.putInt(0); b.putInt(0) // track_id, reserved, duration
      b.position(4 + 20 + 52)             // skip reserved/layer/volume/matrix
      b.putInt(320 << 16); b.putInt(240 << 16)
      b.array()
    }
    val ftyp = box("ftyp", "isom".getBytes ++ Array[Byte](0, 0, 2, 0) ++ "isom".getBytes)
    val bytes = ftyp ++ box("moov", box("mvhd", mvhd) ++ box("trak", box("tkhd", tkhd)))
    assert(Decoders.isMp4(bytes) && !Decoders.isWav(bytes))
    val (durMs, w, h) = Decoders.decodeMp4Meta(bytes)
    assert(durMs == 2500 && w == 320 && h == 240)
    val feat = Decoders.mp4Feature(Media.MediaCell("d", 0, "video", "r.mp4", bytes))
    assert(feat.duration_ms == 2500 && feat.width == 320 && feat.height == 240)
    assert(feat.feature.length == 8)
  }

  test("MP4: dispatch routes video payloads to the box walk, not the stub") {
    val mp4 = Decoders.synthMp4("m://clip.mp4")
    assert(Decoders.isMp4(mp4) && !Decoders.isImageIo(mp4))
    val f = Media.decode(Media.MediaCell("d", 0, "video", "m://clip.mp4", mp4))
    val (durMs, w, h) = Decoders.decodeMp4Meta(mp4)
    assert(f.duration_ms == durMs && f.width == w && f.height == h)
    assert(durMs >= 1000 && w >= 160 && h >= 120)
    // a truncated moov must degrade to the stub, not kill the task
    val corrupt = mp4.take(30).toArray
    val fc = Media.decode(Media.MediaCell("d", 0, "video", "m://bad.mp4", corrupt))
    assert(fc.n_bytes == corrupt.length && fc.feature.length == 8)
  }

  test("MP4: payload truncated right after a tkhd box header returns zeros") {
    // a moov whose LAST 8 bytes are a bare `....tkhd` header (declared size
    // covers a body the file no longer carries): decodeMp4Meta's contract is
    // "returns zeros when the boxes are absent", so the walk must skip the
    // bodyless box instead of reading the version byte past the buffer
    def hdr(typ: String, declared: Int): Array[Byte] = {
      val b = ByteBuffer.allocate(8).order(ByteOrder.BIG_ENDIAN)
      b.putInt(declared); b.put(typ.getBytes); b.array()
    }
    val ftyp = {
      val p = "isom".getBytes ++ Array[Byte](0, 0, 2, 0) ++ "isom".getBytes
      val b = ByteBuffer.allocate(8 + p.length).order(ByteOrder.BIG_ENDIAN)
      b.putInt(8 + p.length); b.put("ftyp".getBytes); b.put(p); b.array()
    }
    // moov declares room for the tkhd's 92-byte body, but the bytes end at
    // the tkhd header — boxEnd clamps to the buffer and the body is gone
    val bytes = ftyp ++ hdr("moov", 8 + 8 + 92) ++ hdr("tkhd", 8 + 92)
    assert(Decoders.isMp4(bytes))
    val (durMs, w, h) = Decoders.decodeMp4Meta(bytes)
    assert(durMs == 0 && w == 0 && h == 0)
  }

  test("WAV: multiple data chunks — the FIRST one is the payload") {
    // canonical RIFF reading takes the first data chunk; a second one (e.g.
    // appended junk) must not silently replace the samples (ADVICE round 4)
    val first = Array[Short](500, -500, 500, -500)
    val second = Array[Short](9, 9)
    val buf = ByteBuffer.allocate(44 + 2 * first.length + 8 + 2 * second.length)
      .order(ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes); buf.putInt(36 + 2 * first.length + 8 + 2 * second.length)
    buf.put("WAVE".getBytes)
    buf.put("fmt ".getBytes); buf.putInt(16)
    buf.putShort(1); buf.putShort(1); buf.putInt(8000); buf.putInt(16000)
    buf.putShort(2); buf.putShort(16)
    buf.put("data".getBytes); buf.putInt(2 * first.length)
    first.foreach(buf.putShort)
    buf.put("data".getBytes); buf.putInt(2 * second.length)
    second.foreach(buf.putShort)
    val (rate, _, s) = Decoders.decodeWav(buf.array())
    assert(rate == 8000 && s.toSeq == first.toSeq)
  }

  test("synth payloads are well-formed and route to the real decoders") {
    val wav = Decoders.synthWav("m://abc.wav")
    assert(Decoders.isWav(wav) && !Decoders.isPpm(wav))
    val (rate, _, s) = Decoders.decodeWav(wav)
    assert(rate == 8000 && s.length >= 1600)
    val ppm = Decoders.synthPpm("m://xyz.ppm")
    assert(Decoders.isPpm(ppm) && !Decoders.isWav(ppm))
    val (w, h, rgb) = Decoders.decodePpm(ppm)
    assert(w >= 8 && h >= 8 && rgb.length == w * h * 3)
  }
}
