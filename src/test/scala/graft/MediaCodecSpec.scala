package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.MediaCodec

/** The BMP/WAV codecs are real parsers, so they get real codec tests:
  * hand-built byte-literal fixtures (guarding against a self-consistent but
  * wrong encode/decode pair), roundtrips across padding/sign edge cases, and
  * rejection of malformed or unsupported containers (which is the stub
  * fallback trigger in [[graft.operators.Multimodal]]). */
class MediaCodecSpec extends AnyFunSuite {

  /** Assemble one PNG chunk (length + tag + body + CRC32) — test-side
    * scaffolding independent of the production encoder. */
  private def pngChunk(tag: String, body: Array[Byte]): Array[Byte] = {
    val tb = tag.getBytes("US-ASCII")
    val crc = new java.util.zip.CRC32()
    crc.update(tb); crc.update(body)
    java.nio.ByteBuffer.allocate(4).putInt(body.length).array() ++ tb ++ body ++
      java.nio.ByteBuffer.allocate(4).putInt(crc.getValue.toInt).array()
  }

  private val pngSig = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)

  // ---------------------------------------------------------------- BMP ----

  test("bmp: decode a hand-assembled 2x2 24bpp file (literal bytes, not our encoder)") {
    // 2x2 image, stride = (2*3+3)&~3 = 8, so each row carries 2 pad bytes.
    // Bottom-up storage: file row 0 is image row 1. Pixels (top-down RGB):
    //   (0,0)=red (255,0,0)   (0,1)=green (0,255,0)
    //   (1,0)=blue (0,0,255)  (1,1)=white (255,255,255)
    def b(v: Int): Byte = v.toByte
    val header = Array[Byte](
      'B', 'M',
      b(70), 0, 0, 0, // file size 54 + 16
      0, 0, 0, 0,
      b(54), 0, 0, 0, // data offset
      b(40), 0, 0, 0, // info header size
      2, 0, 0, 0, // width 2
      2, 0, 0, 0, // height 2 (bottom-up)
      1, 0, // planes
      b(24), 0, // bpp
      0, 0, 0, 0, // BI_RGB
      b(16), 0, 0, 0, // image size
      0, 0, 0, 0, 0, 0, 0, 0, // resolutions
      0, 0, 0, 0, 0, 0, 0, 0) // palette counts
    val rows = Array[Byte](
      // file row 0 = image bottom row: blue then white, BGR order, 2 pad
      b(255), 0, 0, b(255), b(255), b(255), 0, 0,
      // file row 1 = image top row: red then green
      0, 0, b(255), 0, b(255), 0, 0, 0)
    val d = MediaCodec.decodeBmp(header ++ rows).get
    assert(d.width == 2 && d.height == 2)
    assert(d.pixels.toSeq == Seq[Byte](
      b(255), 0, 0, 0, b(255), 0, // top row: red, green (RGB)
      0, 0, b(255), b(255), b(255), b(255))) // bottom row: blue, white
  }

  test("bmp: encode/decode roundtrip recovers pixels exactly (odd width exercises padding)") {
    for ((w, h) <- Seq((5, 3), (16, 16), (1, 1), (63, 17))) {
      val rgb = Array.tabulate[Byte](w * h * 3)(i => ((i * 31 + 7) % 256).toByte)
      val bmp = MediaCodec.encodeBmp(w, h, rgb)
      assert(bmp(0) == 'B' && bmp(1) == 'M')
      // stride padding: file size = 54 + ((w*3+3)&~3)*h
      assert(bmp.length == 54 + ((w * 3 + 3) & ~3) * h)
      val d = MediaCodec.decodeBmp(bmp).get
      assert(d.width == w && d.height == h)
      assert(d.pixels.toSeq == rgb.toSeq, s"roundtrip mismatch at ${w}x$h")
    }
  }

  test("bmp: top-down files (negative height) decode to the same raster") {
    val w = 3; val h = 2
    val rgb = Array.tabulate[Byte](w * h * 3)(_.toByte)
    val bmp = MediaCodec.encodeBmp(w, h, rgb)
    // flip to top-down: height := -h, pixel rows reordered to top-first
    val stride = (w * 3 + 3) & ~3
    val flipped = bmp.clone()
    val negH = -h
    flipped(22) = negH.toByte; flipped(23) = (negH >> 8).toByte
    flipped(24) = (negH >> 16).toByte; flipped(25) = (negH >> 24).toByte
    for (y <- 0 until h; i <- 0 until stride)
      flipped(54 + y * stride + i) = bmp(54 + (h - 1 - y) * stride + i)
    val d = MediaCodec.decodeBmp(flipped).get
    assert(d.pixels.toSeq == rgb.toSeq)
  }

  test("bmp: malformed and unsupported containers are rejected, not mis-parsed") {
    val good = MediaCodec.encodeBmp(4, 4, new Array[Byte](48))
    assert(MediaCodec.decodeBmp(Array[Byte]('B', 'M', 1, 2)).isEmpty, "truncated header")
    assert(MediaCodec.decodeBmp(good.take(60)).isEmpty, "truncated pixel data")
    assert(MediaCodec.decodeBmp("not a bitmap at all, just text".getBytes("UTF-8")).isEmpty)
    val bpp8 = good.clone(); bpp8(28) = 8
    assert(MediaCodec.decodeBmp(bpp8).isEmpty, "8bpp unsupported")
    val rle = good.clone(); rle(30) = 1
    assert(MediaCodec.decodeBmp(rle).isEmpty, "compressed unsupported")
    assert(MediaCodec.decodeBmp(Array.emptyByteArray).isEmpty)
    // hostile width 0x40000000: `width * 3` wraps negative in Int — the
    // bounds math must run in Long and reject, not crash the task
    val wide = good.clone()
    wide(18) = 0; wide(19) = 0; wide(20) = 0; wide(21) = 0x40
    assert(MediaCodec.decodeBmp(wide).isEmpty, "overflowing width must be rejected")
  }

  // ---------------------------------------------------------------- PNG ----

  test("png: decode a hand-assembled file with Sub and Up filters (stored deflate, literal bytes)") {
    def b(v: Int): Byte = v.toByte
    // 2x2 RGB, pixels (top-down): row0 (10,20,30),(40,60,80)
    //                             row1 (15,25,35),(45,65,85)
    // scanlines: row0 filter 1 (Sub): deltas vs left pixel
    //            row1 filter 2 (Up):  deltas vs row above
    val raw = Array[Byte](1, 10, 20, 30, 30, 40, 50, 2, 5, 5, 5, 5, 5, 5)
    // zlib container hand-built around ONE stored (uncompressed) deflate
    // block — independent of any encoder: header, BFINAL|BTYPE=00, LEN,
    // NLEN, data, Adler-32
    val adler = {
      var a = 1L; var s = 0L
      raw.foreach { x => a = (a + (x & 0xff)) % 65521; s = (s + a) % 65521 }
      (s << 16) | a
    }
    val z = Array[Byte](0x78, 0x01,
      1, b(raw.length), 0, b(~raw.length & 0xff), b(0xff)) ++ raw ++
      Array[Byte](b((adler >> 24).toInt), b((adler >> 16).toInt), b((adler >> 8).toInt), b(adler.toInt))
    val ihdr = java.nio.ByteBuffer.allocate(13)
      .putInt(2).putInt(2).put(b(8)).put(b(2)).put(b(0)).put(b(0)).put(b(0)).array()
    val png = pngSig ++ pngChunk("IHDR", ihdr) ++ pngChunk("IDAT", z) ++
      pngChunk("IEND", Array.emptyByteArray)
    val d = MediaCodec.decodePng(png).get
    assert(d.width == 2 && d.height == 2)
    assert(d.pixels.toSeq == Seq[Byte](10, 20, 30, 40, 60, 80, 15, 25, 35, 45, 65, 85))
  }

  test("png: encode/decode roundtrip recovers pixels exactly") {
    for ((w, h) <- Seq((5, 3), (16, 16), (1, 1), (63, 17))) {
      val rgb = Array.tabulate[Byte](w * h * 3)(i => ((i * 31 + 7) % 256).toByte)
      val png = MediaCodec.encodePng(w, h, rgb)
      assert(png(1) == 'P' && png(2) == 'N' && png(3) == 'G')
      val d = MediaCodec.decodePng(png).get
      assert(d.width == w && d.height == h)
      assert(d.pixels.toSeq == rgb.toSeq, s"roundtrip mismatch at ${w}x$h")
    }
  }

  test("png: cross-validated against the JDK's independent ImageIO codec (adaptive filters)") {
    val w = 21; val h = 13
    val rgb = Array.tabulate[Byte](w * h * 3)(i => ((i * 97 + 13) % 256).toByte)
    // our encoder → ImageIO's decoder
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(MediaCodec.encodePng(w, h, rgb)))
    assert(img.getWidth == w && img.getHeight == h)
    for (y <- 0 until h; x <- 0 until w) {
      val p = img.getRGB(x, y)
      val off = (y * w + x) * 3
      assert(((p >> 16) & 0xff) == (rgb(off) & 0xff)
        && ((p >> 8) & 0xff) == (rgb(off + 1) & 0xff)
        && (p & 0xff) == (rgb(off + 2) & 0xff), s"ImageIO disagrees at ($x,$y)")
    }
    // ImageIO's encoder (emits adaptive per-row filters, including Average
    // and Paeth) → our filter reconstruction
    val bi = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val off = (y * w + x) * 3
      bi.setRGB(x, y,
        ((rgb(off) & 0xff) << 16) | ((rgb(off + 1) & 0xff) << 8) | (rgb(off + 2) & 0xff))
    }
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(bi, "png", bos))
    val d = MediaCodec.decodePng(bos.toByteArray).get
    assert(d.width == w && d.height == h)
    assert(d.pixels.toSeq == rgb.toSeq, "ImageIO-encoded PNG must reconstruct exactly")
  }

  test("png: unsupported profiles and malformed files are rejected, not mis-parsed") {
    val good = MediaCodec.encodePng(4, 4, new Array[Byte](48))
    // IHDR body starts at 16 (sig 8 + len 4 + tag 4): depth +8, color +9,
    // interlace +12; IDAT body starts at 8 + 25 + 8 = 41
    // recompute the CRC of the chunk at `pos` after a test mutation, so the
    // assertion exercises the PROFILE check, not the CRC gate in front of it
    def reCrc(png: Array[Byte], pos: Int): Array[Byte] = {
      val len = java.nio.ByteBuffer.wrap(png, pos, 4).getInt
      val crc = new java.util.zip.CRC32()
      crc.update(png, pos + 4, 4 + len)
      java.nio.ByteBuffer.wrap(png, pos + 8 + len, 4).putInt(crc.getValue.toInt)
      png
    }
    assert(MediaCodec.decodePng(good.take(30)).isEmpty, "truncated file")
    // every chunk intact, IEND (the last 12 bytes) cut off
    assert(MediaCodec.decodePng(good.dropRight(12)).isEmpty, "a file cut before IEND")
    assert(MediaCodec.decodePng("definitely not a png".getBytes("UTF-8")).isEmpty)
    assert(MediaCodec.decodePng(Array.emptyByteArray).isEmpty)
    val pal = good.clone(); pal(25) = 3
    assert(MediaCodec.decodePng(reCrc(pal, 8)).isEmpty, "palette color type unsupported")
    val rgba = good.clone(); rgba(25) = 6
    assert(MediaCodec.decodePng(reCrc(rgba, 8)).isEmpty, "alpha color type unsupported")
    val deep = good.clone(); deep(24) = 16
    assert(MediaCodec.decodePng(reCrc(deep, 8)).isEmpty, "16-bit depth unsupported")
    val il = good.clone(); il(28) = 1
    assert(MediaCodec.decodePng(reCrc(il, 8)).isEmpty, "Adam7 interlace unsupported")
    val badZlib = good.clone(); badZlib(41) = 0
    assert(MediaCodec.decodePng(reCrc(badZlib, 33)).isEmpty, "corrupt zlib header must not crash")
    // same mutation WITHOUT the CRC fix-up: the CRC gate itself must reject
    val badCrc = good.clone(); badCrc(41) = 0
    assert(MediaCodec.decodePng(badCrc).isEmpty, "CRC mismatch must be rejected")
    // hostile chunk length near Int.MaxValue: the bound must run in Long
    val huge = good.clone()
    huge(33) = 0x7f; huge(34) = 0xff.toByte; huge(35) = 0xff.toByte; huge(36) = 0xf0.toByte
    assert(MediaCodec.decodePng(huge).isEmpty, "overflowing chunk length must be rejected")
    // zlib FDICT (preset dictionary, header 0x78 0x20): Inflater returns 0
    // from inflate() with needsDictionary set and needsInput FALSE — the
    // decode loop must bail, not spin forever on an executor task
    val ihdr1x1 = java.nio.ByteBuffer.allocate(13)
      .putInt(1).putInt(1).put(8.toByte).put(2.toByte)
      .put(0.toByte).put(0.toByte).put(0.toByte).array()
    val fdict = pngSig ++ pngChunk("IHDR", ihdr1x1) ++
      pngChunk("IDAT", Array[Byte](0x78, 0x20, 1, 2, 3, 4, 5, 6, 7, 8)) ++
      pngChunk("IEND", Array.emptyByteArray)
    assert(MediaCodec.decodePng(fdict).isEmpty, "FDICT stream must be rejected, not hang")
  }

  // ---------------------------------------------------------------- WAV ----

  test("gif: encode/decode roundtrip recovers the index raster exactly (LZW, width bumps, clears)") {
    // sizes chosen so the LZW table crosses the 9->10 bit width bump on
    // the noisy raster, and the repetitive raster exercises long matches
    for ((w, h) <- Seq((5, 3), (16, 16), (1, 1), (63, 33), (79, 63))) {
      val idx = Array.tabulate[Byte](w * h)(i => ((i * 31 + 7) % 256).toByte)
      val gif = MediaCodec.encodeGifGray(w, h, idx)
      assert(gif(0) == 'G' && gif(1) == 'I' && gif(2) == 'F')
      val d = MediaCodec.decodeGif(gif).get
      assert(d.width == w && d.height == h)
      for (i <- 0 until w * h; c <- 0 until 3)
        assert((d.pixels(3 * i + c) & 0xff) == (idx(i) & 0xff), s"pixel $i ch $c at ${w}x$h")
      val rep = Array.tabulate[Byte](w * h)(i => (i % 7).toByte) // long runs
      val d2 = MediaCodec.decodeGif(MediaCodec.encodeGifGray(w, h, rep)).get
      for (i <- 0 until w * h)
        assert((d2.pixels(3 * i) & 0xff) == (rep(i) & 0xff))
    }
  }

  test("gif: cross-validated against the JDK's independent ImageIO codec, both directions") {
    val w = 37; val h = 29
    val idx = Array.tabulate[Byte](w * h)(i => ((i * 97 + 13) % 256).toByte)
    // our encoder → ImageIO's decoder (its own spec-conforming LZW)
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(MediaCodec.encodeGifGray(w, h, idx)))
    assert(img.getWidth == w && img.getHeight == h)
    for (y <- 0 until h; x <- 0 until w) {
      val p = img.getRGB(x, y)
      val v = idx(y * w + x) & 0xff
      assert(((p >> 16) & 0xff) == v && ((p >> 8) & 0xff) == v && (p & 0xff) == v,
        s"ImageIO disagrees at ($x,$y)")
    }
    // ImageIO's GIF writer (indexed gray image) → our LZW expander
    val gray = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until h; x <- 0 until w)
      gray.getRaster.setSample(x, y, 0, idx(y * w + x) & 0xff)
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(gray, "gif", bos))
    val d = MediaCodec.decodeGif(bos.toByteArray).get
    assert(d.width == w && d.height == h)
    for (i <- 0 until w * h; c <- 0 until 3)
      assert((d.pixels(3 * i + c) & 0xff) == (idx(i) & 0xff),
        s"ImageIO-encoded GIF must reconstruct exactly (pixel $i ch $c)")
  }

  test("gif: malformed and unsupported containers are rejected, not mis-parsed") {
    assert(MediaCodec.decodeGif(Array[Byte]('G', 'I', 'F')).isEmpty)
    assert(MediaCodec.decodeGif("GIF10a junk".getBytes("US-ASCII")).isEmpty)
    val good = MediaCodec.encodeGifGray(4, 4, Array.fill[Byte](16)(42))
    assert(MediaCodec.decodeGif(good).nonEmpty)
    // truncate inside the LZW stream: reject, never a partial raster
    assert(MediaCodec.decodeGif(good.take(good.length - 6)).isEmpty)
    // corrupt the LZW stream (an out-of-range code): reject, not garbage
    val corrupt = good.clone()
    corrupt(13 + 768 + 10 + 2) = 0xff.toByte
    assert(MediaCodec.decodeGif(corrupt).isEmpty ||
      MediaCodec.decodeGif(corrupt).get.pixels.length == 4 * 4 * 3) // either reject or decode a full raster, never partial
  }

  test("wav: decode a hand-assembled RIFF file with an unknown odd-sized chunk before data") {
    def b(v: Int): Byte = v.toByte
    // samples: 1000, -2, little-endian PCM16
    val out = Array[Byte](
      'R', 'I', 'F', 'F', b(52), 0, 0, 0, 'W', 'A', 'V', 'E',
      // unknown 3-byte chunk -> consumes a pad byte (RIFF word alignment)
      'j', 'u', 'n', 'k', 3, 0, 0, 0, 1, 2, 3, 0,
      'f', 'm', 't', ' ', b(16), 0, 0, 0,
      1, 0, // PCM
      1, 0, // mono
      b(0x80), b(0x3e), 0, 0, // 16000 Hz
      0, b(0x7d), 0, 0, // byte rate 32000
      2, 0, b(16), 0, // block align, bits
      'd', 'a', 't', 'a', 4, 0, 0, 0,
      b(0xe8), 3, // 1000
      b(0xfe), b(0xff)) // -2
    assert(MediaCodec.decodeWavPcm16(out).get.toSeq == Seq(1000, -2))
  }

  test("wav: encode/decode roundtrip preserves signed samples") {
    val samples = Array[Short](0, 1, -1, 32767, -32768, 12345, -12345)
    val wav = MediaCodec.encodeWavPcm16(samples, sampleRate = 8000)
    assert(new String(wav.slice(0, 4), "US-ASCII") == "RIFF")
    assert(new String(wav.slice(8, 12), "US-ASCII") == "WAVE")
    assert(MediaCodec.decodeWavPcm16(wav).get.toSeq == samples.map(_.toInt).toSeq)
  }

  test("wav: non-PCM, stereo, and truncated containers are rejected") {
    val wav = MediaCodec.encodeWavPcm16(Array[Short](1, 2, 3))
    val stereo = wav.clone(); stereo(22) = 2
    assert(MediaCodec.decodeWavPcm16(stereo).isEmpty)
    val float32 = wav.clone(); float32(20) = 3
    assert(MediaCodec.decodeWavPcm16(float32).isEmpty)
    assert(MediaCodec.decodeWavPcm16(wav.take(40)).isEmpty)
    assert(MediaCodec.decodeWavPcm16("RIFFxxxxWAVE".getBytes("US-ASCII")).isEmpty)
    // raw big-endian PCM (the stub-path payload shape) is not a WAV
    assert(MediaCodec.decodeWavPcm16(Array.tabulate[Byte](64)(_.toByte)).isEmpty)
    // corrupt chunk size near Int.MaxValue: `body + size` wraps negative —
    // the bound must run in Long and reject instead of allocating ~4 GB
    val huge = wav.clone()
    huge(40) = 0xf0.toByte; huge(41) = 0xff.toByte; huge(42) = 0xff.toByte; huge(43) = 0x7f
    assert(MediaCodec.decodeWavPcm16(huge).isEmpty, "overflowing chunk size must be rejected")
  }

  // --------------------------------------------------------------- JPEG ----

  /** Decode `bytes` with the JDK's (libjpeg-based) ImageIO reader into
    * top-down RGB — the independent reference our decoder is held against. */
  private def imageIoRgb(bytes: Array[Byte]): (Int, Int, Array[Int]) = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    val w = img.getWidth; val h = img.getHeight
    val out = new Array[Int](w * h * 3)
    for (y <- 0 until h; x <- 0 until w) {
      val p = img.getRGB(x, y)
      val off = (y * w + x) * 3
      out(off) = (p >> 16) & 0xff; out(off + 1) = (p >> 8) & 0xff; out(off + 2) = p & 0xff
    }
    (w, h, out)
  }

  private def maxDiff(a: Array[Byte], b: Array[Int]): Int =
    a.indices.map(i => math.abs((a(i) & 0xff) - b(i))).max

  test("jpeg: grayscale cross-validated against ImageIO (no chroma, IDCT-only path)") {
    val w = 40; val h = 25 // odd-MCU edges: 40x25 is 5x4 MCUs with partial rows
    val bi = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val g = bi.getRaster
    for (y <- 0 until h; x <- 0 until w)
      g.setSample(x, y, 0, (x * 7 + y * 11 + ((x * y) % 5) * 20) % 256)
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(bi, "jpeg", bos))
    val jpeg = bos.toByteArray
    val d = MediaCodec.decodeJpeg(jpeg).get
    assert(d.width == w && d.height == h)
    // compare raw luma raster samples: getRGB on a CS_GRAY image applies a
    // gray→sRGB gamma conversion that has nothing to do with JPEG decoding
    val ref = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(jpeg)).getRaster
    val md = (for (y <- 0 until h; x <- 0 until w)
      yield math.abs((d.pixels((y * w + x) * 3) & 0xff) - ref.getSample(x, y, 0))).max
    assert(md <= 1, s"grayscale decode differs from ImageIO by $md (>1)")
  }

  test("jpeg: color cross-validated against ImageIO (subsampled chroma, both qualities)") {
    for ((w, h, q) <- Seq((37, 21, 0.9f), (24, 16, 0.7f), (17, 13, 0.95f))) {
      // smooth gradient + mild texture: representative content where the
      // IDCT and upsample paths both matter
      val rgb = new Array[Byte](w * h * 3)
      for (y <- 0 until h; x <- 0 until w) {
        val off = (y * w + x) * 3
        rgb(off) = ((x * 255 / w + (y % 3)) & 0xff).toByte
        rgb(off + 1) = ((y * 255 / h + (x % 3)) & 0xff).toByte
        rgb(off + 2) = (((x + y) * 128 / (w + h) + 64) & 0xff).toByte
      }
      val jpeg = MediaCodec.encodeJpeg(w, h, rgb, q)
      val d = MediaCodec.decodeJpeg(jpeg).get
      assert(d.width == w && d.height == h, s"dims at ${w}x$h q=$q")
      val (rw, rh, ref) = imageIoRgb(jpeg)
      assert(rw == w && rh == h)
      val md = maxDiff(d.pixels, ref)
      // both decoders read the same coefficients; residual differences are
      // IDCT descale rounding and chroma-upsample bias ticks
      assert(md <= 4, s"color decode differs from ImageIO by $md (>4) at ${w}x$h q=$q")
    }
  }

  test("jpeg: decoded raster tracks the pre-compression source (lossy but faithful)") {
    val w = 32; val h = 32
    val rgb = new Array[Byte](w * h * 3)
    for (y <- 0 until h; x <- 0 until w; c <- 0 until 3)
      rgb((y * w + x) * 3 + c) = ((x * 8 + c * 40) & 0xff).toByte
    val d = MediaCodec.decodeJpeg(MediaCodec.encodeJpeg(w, h, rgb, 0.95f)).get
    val meanErr = d.pixels.indices.map(i => math.abs((d.pixels(i) & 0xff) - (rgb(i) & 0xff))).sum
      .toDouble / d.pixels.length
    assert(meanErr < 8.0, s"decode drifted from the source (mean err $meanErr)")
  }

  test("jpeg: progressive, truncated, and garbage inputs are rejected, not mis-parsed") {
    val w = 24; val h = 24
    val bi = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    for (y <- 0 until h; x <- 0 until w) bi.setRGB(x, y, (x * 10) << 16 | (y * 10) << 8)
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("jpeg").next()
    val param = writer.getDefaultWriteParam
    param.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DEFAULT) // SOF2
    val bos = new java.io.ByteArrayOutputStream()
    val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
    writer.setOutput(ios)
    writer.write(null, new javax.imageio.IIOImage(bi, null, null), param)
    ios.flush(); writer.dispose(); ios.close()
    assert(MediaCodec.decodeJpeg(bos.toByteArray).isEmpty, "progressive must be rejected")
    val good = MediaCodec.encodeJpeg(w, h, new Array[Byte](w * h * 3))
    assert(MediaCodec.decodeJpeg(good.take(good.length / 2)).isEmpty, "truncated must be rejected")
    assert(MediaCodec.decodeJpeg(Array[Byte](1, 2, 3, 4)).isEmpty)
    assert(MediaCodec.decodeJpeg(Array.fill[Byte](200)(0x55)).isEmpty)
  }

  // ------------------------------------------------- pipeline integration --

  lazy val spark = GraftSession.builder("4").getOrCreate()

  test("attachPayload emits genuine BMPs, PNGs, JPEGs, AND GIFs that the real parsers decode") {
    val docs = queries.Tables(spark, "/root/testdata/sf0.001", "documents")
    val rows = graft.operators.Multimodal.attachPayload(docs).collect()
    assert(rows.nonEmpty)
    // all four container formats are present across the corpus...
    assert(rows.exists(_.payload(0) == 'B'), "no BMP payloads")
    assert(rows.exists(_.payload(1) == 'P'), "no PNG payloads")
    assert(rows.exists(r => (r.payload(0) & 0xff) == 0xff && (r.payload(1) & 0xff) == 0xd8),
      "no JPEG payloads")
    assert(rows.exists(r => r.payload(0) == 'G' && r.payload(1) == 'I'), "no GIF payloads")
    rows.foreach { r =>
      // ...and each decodes through its REAL parser (never the stub), with
      // container dims matching the row metadata
      val d = MediaCodec.decodeBmp(r.payload)
        .orElse(MediaCodec.decodePng(r.payload))
        .orElse(MediaCodec.decodeJpeg(r.payload))
        .orElse(MediaCodec.decodeGif(r.payload)).get
      assert(d.width == r.width && d.height == r.height)
    }
    // pixels are the utf8 text bytes cycled — check one doc end to end.
    // Must be a doc that got a lossless TRUECOLOR container (selector =
    // doc_id; %4==2 → JPEG is lossy, %4==3 → GIF is palette-indexed): pick
    // the lowest doc_id mapping to PNG/BMP explicitly instead of relying
    // on doc 0 happening to map to PNG.
    val doc = docs.select("doc_id", "text").orderBy("doc_id")
      .collect().find(_.getLong(0) % 4 < 2).get
    val row = rows.find(_.doc_id == doc.getLong(0)).get
    val txt = doc.getString(1).getBytes("UTF-8")
    val px = MediaCodec.decodeBmp(row.payload).orElse(MediaCodec.decodePng(row.payload)).get.pixels
    if (txt.nonEmpty) px.zipWithIndex.foreach { case (p, i) => assert(p == txt(i % txt.length)) }
    // ...and the GIF planting arithmetic end to end on the lowest GIF doc:
    // indices are the text bytes cycled to w·h, decoding to gray triplets
    // (i, i, i) through the real LZW expander.
    val gdoc = docs.select("doc_id", "text").orderBy("doc_id")
      .collect().find(_.getLong(0) % 4 == 3).get
    val grow = rows.find(_.doc_id == gdoc.getLong(0)).get
    val gtxt = gdoc.getString(1).getBytes("UTF-8")
    val gpx = MediaCodec.decodeGif(grow.payload).get.pixels
    if (gtxt.nonEmpty) {
      assert(gpx.length == grow.width * grow.height * 3)
      var k = 0
      while (k < gpx.length) {
        val exp = gtxt((k / 3) % gtxt.length)
        assert(gpx(k) == exp, s"gif pixel $k: ${gpx(k)} != planted gray $exp")
        k += 1
      }
    }
  }

  test("mm06 media info: formats cycle, dims parsed from containers, lossless sums exact") {
    val docs = queries.Tables(spark, "/root/testdata/sf0.001", "documents")
    val out = graft.operators.Multimodal.mediaInfo(docs).collect()
    assert(out.nonEmpty)
    val meta = docs.select("doc_id", "text", "n_chars").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    out.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val (text, nChars) = meta(id)
      val expFmt = (id % 4) match {
        case 0 => "png"; case 1 => "bmp"; case 2 => "jpeg"; case _ => "gif"
      }
      assert(r.getAs[String]("format") == expFmt, s"doc $id: wrong sniffed format")
      assert(r.getAs[Long]("width") == nChars % 64 + 16, s"doc $id: width not from the container")
      assert(r.getAs[Long]("height") == id % 48 + 16)
      val sum = r.getAs[java.lang.Long]("raster_sum")
      if (expFmt == "jpeg") assert(sum == null, "JPEG raster sum must be NULL (lossy)")
      else {
        // PNG/BMP plant the text bytes cycled to w·h·3 RGB; GIF plants them
        // cycled to w·h palette INDICES decoding to gray triplets — its
        // raster sum is 3× the w·h cycled-byte sum
        val bytes = text.getBytes("UTF-8")
        val wh = (r.getAs[Long]("width") * r.getAs[Long]("height")).toInt
        var exp = 0L
        if (expFmt == "gif") {
          var i = 0
          while (i < wh) { exp += 3L * (bytes(i % bytes.length) & 0xff); i += 1 }
        } else {
          var i = 0
          while (i < wh * 3) { exp += (bytes(i % bytes.length) & 0xff); i += 1 }
        }
        assert(sum != null && sum.longValue == exp,
          s"doc $id: decoded raster sum $sum != planted $exp — pixel round-trip broken")
      }
    }
  }

  test("attachAudioPayload emits genuine WAVs; audio pipeline decodes via the RIFF parser") {
    val docs = queries.Tables(spark, "/root/testdata/sf0.001", "documents")
    val rows = graft.operators.Multimodal.attachAudioPayload(docs).limit(20).collect()
    rows.foreach { r =>
      assert(new String(r.payload.slice(0, 4), "US-ASCII") == "RIFF")
      assert(MediaCodec.decodeWavPcm16(r.payload).isDefined)
    }
  }
}
