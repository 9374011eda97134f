package graft.operators

/** Pure-JVM media codecs for the multimodal pipeline.
  *
  * The sandbox has no native image/audio libraries, but four ubiquitous
  * formats need none: uncompressed 24-bit BMP (Windows BITMAPINFOHEADER),
  * 8-bit truecolor PNG (zlib via `java.util.zip`, full filter
  * reconstruction), RIFF/WAVE PCM16, and baseline JPEG (ITU-T T.81
  * sequential DCT: huffman entropy decode, dequantization, integer IDCT,
  * chroma upsampling, YCbCr→RGB — all implemented here from the public
  * spec). The parsers are real codecs — they read dimensions, strides,
  * chunk layout, compressed/entropy-coded streams and sample data from the
  * container itself, exactly as a production decoder would — and the
  * encoders emit files any external viewer/player opens (JPEG encode
  * delegates to the JDK's bundled ImageIO writer; decode, the hard
  * direction, is [[decodeJpeg]], cross-validated against ImageIO in
  * MediaCodecSpec). Only video (H.264) remains stubbed, at
  * [[Multimodal.decodeStub]] (clearly marked there).
  *
  * Everything is per-row and allocation-bounded by the payload size, so the
  * codecs run inside `mapPartitions` with no driver involvement and no
  * shuffle — the 100 TB shape is "decode where the bytes already live".
  */
object MediaCodec {

  /** A decoded raster: `pixels` is top-down, row-major, interleaved RGB
    * (channels = 3), `pixels.length == width * height * 3`. */
  final case class DecodedImage(width: Int, height: Int, pixels: Array[Byte])

  // ---------------------------------------------------------------- BMP ----

  private def le16(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)

  private def le32(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8) |
      ((b(off + 2) & 0xff) << 16) | ((b(off + 3) & 0xff) << 24)

  private def putLe16(b: Array[Byte], off: Int, v: Int): Unit = {
    b(off) = v.toByte; b(off + 1) = (v >>> 8).toByte
  }

  private def putLe32(b: Array[Byte], off: Int, v: Int): Unit = {
    b(off) = v.toByte; b(off + 1) = (v >>> 8).toByte
    b(off + 2) = (v >>> 16).toByte; b(off + 3) = (v >>> 24).toByte
  }

  /** Encode a top-down RGB raster as a standard bottom-up 24bpp BMP
    * (BITMAPFILEHEADER + BITMAPINFOHEADER, rows padded to 4 bytes, BGR
    * byte order — the layout every BMP reader expects).
    * `rgb.length` must be `width * height * 3`. */
  def encodeBmp(width: Int, height: Int, rgb: Array[Byte]): Array[Byte] = {
    require(width > 0 && height > 0, s"bad dims ${width}x$height")
    require(rgb.length == width * height * 3, s"rgb length ${rgb.length} != ${width * height * 3}")
    val stride = (width * 3 + 3) & ~3
    val dataSize = stride * height
    val out = new Array[Byte](54 + dataSize)
    out(0) = 'B'; out(1) = 'M'
    putLe32(out, 2, out.length) // file size
    putLe32(out, 10, 54) // pixel data offset
    putLe32(out, 14, 40) // BITMAPINFOHEADER size
    putLe32(out, 18, width)
    putLe32(out, 22, height) // positive ⇒ bottom-up
    putLe16(out, 26, 1) // planes
    putLe16(out, 28, 24) // bpp
    putLe32(out, 30, 0) // BI_RGB (uncompressed)
    putLe32(out, 34, dataSize)
    putLe32(out, 38, 2835); putLe32(out, 42, 2835) // 72 DPI
    var y = 0
    while (y < height) {
      val srcRow = y * width * 3
      val dstRow = 54 + (height - 1 - y) * stride // bottom-up
      var x = 0
      while (x < width) {
        out(dstRow + x * 3) = rgb(srcRow + x * 3 + 2) // B
        out(dstRow + x * 3 + 1) = rgb(srcRow + x * 3 + 1) // G
        out(dstRow + x * 3 + 2) = rgb(srcRow + x * 3) // R
        x += 1
      }
      y += 1
    }
    out
  }

  /** Decode an uncompressed 24bpp BMP. Handles bottom-up (positive height)
    * and top-down (negative height) files, row padding, and pixel-data
    * offsets beyond the headers (palette/gap bytes are skipped via the
    * header's own offset field). Returns None for anything that is not a
    * well-formed 24bpp BI_RGB bitmap — truncated files, other bit depths,
    * compressed variants — so callers can fall back. */
  def decodeBmp(bytes: Array[Byte]): Option[DecodedImage] = {
    if (bytes.length < 54 || bytes(0) != 'B' || bytes(1) != 'M') return None
    val dataOffset = le32(bytes, 10)
    val headerSize = le32(bytes, 14)
    if (headerSize < 40) return None // BITMAPCOREHEADER not supported
    val width = le32(bytes, 18)
    val rawHeight = le32(bytes, 22)
    val topDown = rawHeight < 0
    val height = if (topDown) -rawHeight else rawHeight
    val planes = le16(bytes, 26)
    val bpp = le16(bytes, 28)
    val compression = le32(bytes, 30)
    if (width <= 0 || height <= 0 || planes != 1 || bpp != 24 || compression != 0) return None
    // all size arithmetic in Long: a hostile width like 0x40000000 would wrap
    // `width * 3` to a negative stride and defeat the bounds check below
    val strideL = (width.toLong * 3 + 3) & ~3L
    if (dataOffset < 54 || dataOffset.toLong + strideL * height > bytes.length) return None
    if (width.toLong * height * 3 > Int.MaxValue) return None
    val stride = strideL.toInt
    val out = new Array[Byte](width * height * 3)
    var y = 0
    while (y < height) {
      val srcRow = dataOffset + (if (topDown) y else height - 1 - y) * stride
      val dstRow = y * width * 3
      var x = 0
      while (x < width) {
        out(dstRow + x * 3) = bytes(srcRow + x * 3 + 2) // R
        out(dstRow + x * 3 + 1) = bytes(srcRow + x * 3 + 1) // G
        out(dstRow + x * 3 + 2) = bytes(srcRow + x * 3) // B
        x += 1
      }
      y += 1
    }
    Some(DecodedImage(width, height, out))
  }

  // ---------------------------------------------------------------- PNG ----

  private val PngSig =
    Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)

  private def be32(b: Array[Byte], off: Int): Int =
    ((b(off) & 0xff) << 24) | ((b(off + 1) & 0xff) << 16) |
      ((b(off + 2) & 0xff) << 8) | (b(off + 3) & 0xff)

  private def putBe32(b: Array[Byte], off: Int, v: Int): Unit = {
    b(off) = (v >>> 24).toByte; b(off + 1) = (v >>> 16).toByte
    b(off + 2) = (v >>> 8).toByte; b(off + 3) = v.toByte
  }

  /** Encode a top-down RGB raster as a standard 8-bit truecolor PNG
    * (IHDR color type 2, one zlib-deflated IDAT, filter type 0 rows, CRCs
    * per chunk — any external viewer opens it). */
  def encodePng(width: Int, height: Int, rgb: Array[Byte]): Array[Byte] = {
    require(width > 0 && height > 0, s"bad dims ${width}x$height")
    require(rgb.length == width * height * 3, s"rgb length ${rgb.length} != ${width * height * 3}")
    val bos = new java.io.ByteArrayOutputStream()
    bos.write(PngSig)
    def chunk(tag: String, body: Array[Byte]): Unit = {
      val len = new Array[Byte](4)
      putBe32(len, 0, body.length)
      bos.write(len)
      val tb = tag.getBytes("US-ASCII")
      bos.write(tb)
      bos.write(body)
      val crc = new java.util.zip.CRC32()
      crc.update(tb)
      crc.update(body)
      val cb = new Array[Byte](4)
      putBe32(cb, 0, crc.getValue.toInt)
      bos.write(cb)
    }
    val ihdr = new Array[Byte](13)
    putBe32(ihdr, 0, width)
    putBe32(ihdr, 4, height)
    ihdr(8) = 8 // bit depth
    ihdr(9) = 2 // color type: truecolor RGB
    // bytes 10..12: compression 0, filter method 0, interlace 0
    chunk("IHDR", ihdr)
    // raw scanline stream: each row is a filter byte (0 = None) + RGB bytes
    val stride = width * 3
    val raw = new Array[Byte](height * (stride + 1))
    var y = 0
    while (y < height) {
      System.arraycopy(rgb, y * stride, raw, y * (stride + 1) + 1, stride)
      y += 1
    }
    val deflater = new java.util.zip.Deflater()
    deflater.setInput(raw)
    deflater.finish()
    val zout = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    while (!deflater.finished()) zout.write(buf, 0, deflater.deflate(buf))
    deflater.end()
    chunk("IDAT", zout.toByteArray)
    chunk("IEND", Array.emptyByteArray)
    bos.toByteArray
  }

  /** Decode an 8-bit truecolor (color type 2, non-interlaced) PNG: chunk
    * walk (ancillary chunks skipped, multiple IDATs concatenated per spec,
    * every chunk's CRC32 validated per spec §5.3), zlib inflate via
    * `java.util.zip.Inflater`, and FULL filter reconstruction — types 0-4
    * None/Sub/Up/Average/Paeth (PNG spec §9, Paeth predictor §9.4). Returns
    * None for malformed files (including CRC mismatches and a file cut
    * before its IEND chunk) and variants outside this profile (palette,
    * alpha, 16-bit, interlaced) so callers can fall back. */
  def decodePng(bytes: Array[Byte]): Option[DecodedImage] = {
    if (bytes.length < PngSig.length + 12) return None
    var i = 0
    while (i < PngSig.length) {
      if (bytes(i) != PngSig(i)) return None
      i += 1
    }
    var pos = PngSig.length
    var width = 0
    var height = 0
    var seenIhdr = false
    var ended = false
    val idat = new java.io.ByteArrayOutputStream()
    while (!ended && pos + 8 <= bytes.length) {
      val len = be32(bytes, pos)
      // Long arithmetic: a corrupt length near Int.MaxValue would wrap the
      // chunk-end bound negative and walk out of the array
      if (len < 0 || pos.toLong + 12 + len > bytes.length) return None
      val tag = new String(bytes, pos + 4, 4, "US-ASCII")
      val body = pos + 8
      // CRC validation (PNG spec §5.3: CRC32 over tag + body) — a chunk
      // whose stored CRC disagrees means the file is corrupt; fall back
      val crc = new java.util.zip.CRC32()
      crc.update(bytes, pos + 4, 4 + len)
      if (crc.getValue.toInt != be32(bytes, body + len)) return None
      tag match {
        case "IHDR" =>
          if (len != 13) return None
          width = be32(bytes, body)
          height = be32(bytes, body + 4)
          val bitDepth = bytes(body + 8)
          val colorType = bytes(body + 9)
          val interlace = bytes(body + 12)
          if (bitDepth != 8 || colorType != 2 || interlace != 0) return None
          if (width <= 0 || height <= 0) return None
          if (width.toLong * height * 3 + height > Int.MaxValue) return None
          seenIhdr = true
        case "IDAT" => idat.write(bytes, body, len)
        case "IEND" => ended = true
        case _ => // ancillary chunk (tEXt, pHYs, tIME, ...) — skip
      }
      pos = body + len + 4 // body + CRC
    }
    if (!seenIhdr || idat.size() == 0 || !ended) return None
    val stride = width * 3
    val rawLen = height * (stride + 1)
    val raw = new Array[Byte](rawLen)
    val inf = new java.util.zip.Inflater()
    inf.setInput(idat.toByteArray)
    try {
      var got = 0
      while (got < rawLen && !inf.finished()) {
        val n = inf.inflate(raw, got, rawLen - got)
        // n == 0 with output space remaining means the inflater is stuck:
        // truncated stream (needsInput) OR a preset-dictionary request
        // (FDICT, needsDictionary) — looping on either would hang the task
        if (n == 0) return None
        got += n
      }
      if (got < rawLen) return None
    } catch {
      case _: java.util.zip.DataFormatException => return None
    } finally inf.end()
    // per-row filter reconstruction; `out` is the already-reconstructed
    // raster, so the a/b/c predictors read final bytes (spec: Recon(x))
    val out = new Array[Byte](height * stride)
    val bpp = 3
    var y = 0
    while (y < height) {
      val ft = raw(y * (stride + 1)) & 0xff
      if (ft > 4) return None
      val src = y * (stride + 1) + 1
      val dst = y * stride
      var x = 0
      while (x < stride) {
        val v = raw(src + x) & 0xff
        val a = if (x >= bpp) out(dst + x - bpp) & 0xff else 0 // left
        val b = if (y > 0) out(dst - stride + x) & 0xff else 0 // up
        val c = if (x >= bpp && y > 0) out(dst - stride + x - bpp) & 0xff else 0 // up-left
        val rec = ft match {
          case 0 => v
          case 1 => v + a
          case 2 => v + b
          case 3 => v + ((a + b) >> 1)
          case _ => // 4: Paeth — nearest of a/b/c to p = a+b-c, ties a>b>c
            val p = a + b - c
            val pa = math.abs(p - a)
            val pb = math.abs(p - b)
            val pc = math.abs(p - c)
            v + (if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c)
        }
        out(dst + x) = rec.toByte
        x += 1
      }
      y += 1
    }
    Some(DecodedImage(width, height, out))
  }

  // ---------------------------------------------------------------- GIF ----

  /** Encode an 8-bit index raster as a GIF89a with a 256-entry GRAYSCALE
    * global color table (palette i → (i, i, i)) and real LZW compression —
    * the fourth pure-JVM container (after BMP/PNG/baseline-JPEG), per the
    * published GIF89a spec. Lossless: [[decodeGif]] (and any external
    * viewer) recovers index i at every pixel as gray (i, i, i). */
  def encodeGifGray(width: Int, height: Int, indices: Array[Byte]): Array[Byte] = {
    require(indices.length == width * height, "index raster must be width*height")
    val out = new java.io.ByteArrayOutputStream()
    out.write('G'); out.write('I'); out.write('F'); out.write('8'); out.write('9'); out.write('a')
    // logical screen descriptor: GCT present, color resolution 8, GCT size 256
    out.write(width & 0xff); out.write((width >> 8) & 0xff)
    out.write(height & 0xff); out.write((height >> 8) & 0xff)
    out.write(0xf7); out.write(0); out.write(0)
    var i = 0
    while (i < 256) { out.write(i); out.write(i); out.write(i); i += 1 }
    // image descriptor: full frame, no local table, not interlaced
    out.write(0x2c)
    out.write(0); out.write(0); out.write(0); out.write(0)
    out.write(width & 0xff); out.write((width >> 8) & 0xff)
    out.write(height & 0xff); out.write((height >> 8) & 0xff)
    out.write(0)
    out.write(8) // LZW minimum code size
    val lzw = lzwEncode(indices, 8)
    var off = 0
    while (off < lzw.length) {
      val n = math.min(255, lzw.length - off)
      out.write(n)
      out.write(lzw, off, n)
      off += n
    }
    out.write(0) // block terminator
    out.write(0x3b) // trailer
    out.toByteArray
  }

  /** GIF LZW compressor — the compress(1)-derived structure the spec's
    * appendix describes: variable code width starting at minCodeSize+1,
    * LSB-first bit packing, the width bump evaluated AT OUTPUT TIME with
    * the pre-insert table size (free_ent > maxcode — this is the exact
    * point where a conforming decoder's table fills to 1<<codeSize one
    * code later), clear-and-reset when the table reaches 4096. */
  private def lzwEncode(data: Array[Byte], minCodeSize: Int): Array[Byte] = {
    val clearCode = 1 << minCodeSize
    val eoi = clearCode + 1
    val out = new java.io.ByteArrayOutputStream()
    var cur = 0L
    var nbits = 0
    var codeSize = minCodeSize + 1
    var maxCode = (1 << codeSize) - 1
    var next = eoi + 1
    val dict = new java.util.HashMap[Integer, Integer]()
    def write(code: Int): Unit = {
      cur |= code.toLong << nbits
      nbits += codeSize
      while (nbits >= 8) { out.write((cur & 0xff).toInt); cur >>= 8; nbits -= 8 }
      if (next > maxCode && codeSize < 12) { codeSize += 1; maxCode = (1 << codeSize) - 1 }
    }
    write(clearCode)
    if (data.isEmpty) {
      write(eoi)
    } else {
      var prefix = data(0) & 0xff
      var i = 1
      while (i < data.length) {
        val b = data(i) & 0xff
        val key = Integer.valueOf((prefix << 8) | b)
        val hit = dict.get(key)
        if (hit != null) prefix = hit.intValue
        else {
          write(prefix)
          if (next < 4096) { dict.put(key, Integer.valueOf(next)); next += 1 }
          else {
            write(clearCode)
            dict.clear()
            next = eoi + 1
            codeSize = minCodeSize + 1
            maxCode = (1 << codeSize) - 1
          }
          prefix = b
        }
        i += 1
      }
      write(prefix)
      write(eoi)
    }
    if (nbits > 0) out.write((cur & 0xff).toInt)
    out.toByteArray
  }

  /** Decode a GIF87a/89a first frame: logical screen + global color table,
    * extension blocks skipped, the first image descriptor's LZW stream
    * expanded (prefix/suffix table, the KwKwK special case, mid-stream
    * clear, width bump when the table fills to 1<<codeSize), palette-mapped
    * to top-down RGB. Interlaced frames (ImageIO writes these by default)
    * are de-interlaced via the spec's 4-pass row order; a local color
    * table overrides the global one. */
  def decodeGif(bytes: Array[Byte]): Option[DecodedImage] =
    try decodeGifImpl(bytes) catch { case _: Exception => None }

  private def decodeGifImpl(b: Array[Byte]): Option[DecodedImage] = {
    if (b.length < 13) return None
    if (b(0) != 'G' || b(1) != 'I' || b(2) != 'F' || b(3) != '8') return None
    if (!((b(4) == '7' || b(4) == '9') && b(5) == 'a')) return None
    val packed = b(10) & 0xff
    var pos = 13
    var gct: Array[Byte] = null
    if ((packed & 0x80) != 0) {
      val n = 2 << (packed & 7)
      gct = java.util.Arrays.copyOfRange(b, pos, pos + 3 * n)
      pos += 3 * n
    }
    while (pos < b.length) {
      (b(pos) & 0xff) match {
        case 0x21 => // extension: label + sub-blocks
          pos += 2
          while (pos < b.length && b(pos) != 0) pos += 1 + (b(pos) & 0xff)
          pos += 1
        case 0x2c =>
          val w = le16(b, pos + 5)
          val h = le16(b, pos + 7)
          val ipacked = b(pos + 9) & 0xff
          pos += 10
          var pal = gct
          if ((ipacked & 0x80) != 0) {
            val n = 2 << (ipacked & 7)
            pal = java.util.Arrays.copyOfRange(b, pos, pos + 3 * n)
            pos += 3 * n
          }
          if (pal == null || w <= 0 || h <= 0) return None
          val minCode = b(pos) & 0xff
          pos += 1
          // concatenate the data sub-blocks
          val data = new java.io.ByteArrayOutputStream()
          while (pos < b.length && b(pos) != 0) {
            val n = b(pos) & 0xff
            data.write(b, pos + 1, n)
            pos += 1 + n
          }
          val idx0 = lzwDecode(data.toByteArray, minCode, w * h).getOrElse(return None)
          // interlaced frames (ImageIO writes these by default) store rows
          // in the spec's 4-pass order — remap to display order
          val idx =
            if ((ipacked & 0x40) == 0) idx0
            else {
              val out = new Array[Byte](w * h)
              var r = 0
              for ((start, step) <- Seq((0, 8), (4, 8), (2, 4), (1, 2))) {
                var y = start
                while (y < h) {
                  System.arraycopy(idx0, r * w, out, y * w, w)
                  r += 1
                  y += step
                }
              }
              out
            }
          val px = new Array[Byte](w * h * 3)
          var i = 0
          while (i < w * h) {
            val ci = (idx(i) & 0xff) * 3
            if (ci + 2 >= pal.length) return None
            px(3 * i) = pal(ci); px(3 * i + 1) = pal(ci + 1); px(3 * i + 2) = pal(ci + 2)
            i += 1
          }
          return Some(DecodedImage(w, h, px))
        case 0x3b => return None // trailer before any image
        case _ => return None
      }
    }
    None
  }

  /** GIF LZW expander — the [[lzwEncode]] mirror: after each processed
    * code one (prefix, suffix) entry is added, and the width bumps when
    * the table size reaches 1<<codeSize (exactly one code after the
    * encoder's pre-insert check fired). */
  private def lzwDecode(data: Array[Byte], minCodeSize: Int, expected: Int): Option[Array[Byte]] = {
    val clearCode = 1 << minCodeSize
    val eoi = clearCode + 1
    val prefix = new Array[Int](4096)
    val suffix = new Array[Byte](4096)
    val out = new Array[Byte](expected)
    var outLen = 0
    var codeSize = minCodeSize + 1
    var avail = eoi + 1
    var prev = -1
    var cur = 0L
    var nbits = 0
    var pos = 0
    val stack = new Array[Byte](4097)
    def firstByte(code0: Int): Byte = {
      var c = code0
      while (c >= clearCode) c = prefix(c)
      c.toByte
    }
    def emit(code0: Int): Boolean = {
      var sp = 0
      var c = code0
      while (c >= clearCode) { stack(sp) = suffix(c); sp += 1; c = prefix(c); if (sp > 4096) return false }
      stack(sp) = c.toByte
      sp += 1
      while (sp > 0) {
        sp -= 1
        if (outLen >= expected) return false
        out(outLen) = stack(sp)
        outLen += 1
      }
      true
    }
    while (true) {
      while (nbits < codeSize) {
        if (pos >= data.length) return if (outLen == expected) Some(out) else None
        cur |= (data(pos) & 0xffL) << nbits
        nbits += 8
        pos += 1
      }
      val code = (cur & ((1L << codeSize) - 1)).toInt
      cur >>= codeSize
      nbits -= codeSize
      if (code == clearCode) {
        codeSize = minCodeSize + 1
        avail = eoi + 1
        prev = -1
      } else if (code == eoi) {
        return if (outLen == expected) Some(out) else None
      } else {
        if (prev < 0) {
          if (code >= clearCode) return None
          if (!emit(code)) return None
          prev = code
        } else {
          if (code > avail) return None
          if (code == avail) {
            // KwKwK: the referenced entry is the one being defined —
            // string(prev) + first(string(prev)); add it, then emit it
            if (avail >= 4096) return None
            prefix(avail) = prev
            suffix(avail) = firstByte(prev)
            avail += 1
          } else if (avail < 4096) {
            prefix(avail) = prev
            suffix(avail) = firstByte(code)
            avail += 1
          }
          if (!emit(code)) return None
          if (avail == (1 << codeSize) && codeSize < 12) codeSize += 1
          prev = code
          if (outLen == expected) return Some(out)
        }
      }
    }
    None
  }

  /** Encode mono PCM16 samples as a standard RIFF/WAVE file
    * (fmt chunk: PCM, 1 channel, 16-bit little-endian). */
  def encodeWavPcm16(samples: Array[Short], sampleRate: Int = 16000): Array[Byte] = {
    val dataSize = samples.length * 2
    val out = new Array[Byte](44 + dataSize)
    out(0) = 'R'; out(1) = 'I'; out(2) = 'F'; out(3) = 'F'
    putLe32(out, 4, 36 + dataSize)
    out(8) = 'W'; out(9) = 'A'; out(10) = 'V'; out(11) = 'E'
    out(12) = 'f'; out(13) = 'm'; out(14) = 't'; out(15) = ' '
    putLe32(out, 16, 16) // fmt chunk size
    putLe16(out, 20, 1) // PCM
    putLe16(out, 22, 1) // mono
    putLe32(out, 24, sampleRate)
    putLe32(out, 28, sampleRate * 2) // byte rate
    putLe16(out, 32, 2) // block align
    putLe16(out, 34, 16) // bits per sample
    out(36) = 'd'; out(37) = 'a'; out(38) = 't'; out(39) = 'a'
    putLe32(out, 40, dataSize)
    var i = 0
    while (i < samples.length) {
      putLe16(out, 44 + 2 * i, samples(i) & 0xffff)
      i += 1
    }
    out
  }

  /** Decode a RIFF/WAVE PCM16 mono file by walking its chunk list (chunks
    * are word-aligned per RIFF, so odd sizes consume a pad byte; unknown
    * chunks such as LIST/INFO are skipped). Returns the samples, or None
    * when the container is not mono 16-bit PCM — callers fall back to the
    * raw-PCM stub path. */
  def decodeWavPcm16(bytes: Array[Byte]): Option[Array[Int]] = {
    if (bytes.length < 44) return None
    if (bytes(0) != 'R' || bytes(1) != 'I' || bytes(2) != 'F' || bytes(3) != 'F') return None
    if (bytes(8) != 'W' || bytes(9) != 'A' || bytes(10) != 'V' || bytes(11) != 'E') return None
    var pos = 12
    var fmtOk = false
    var data: Array[Int] = null
    while (pos + 8 <= bytes.length) {
      val id = new String(bytes, pos, 4, "US-ASCII")
      val size = le32(bytes, pos + 4)
      val body = pos + 8
      // Long arithmetic: a corrupt size near Int.MaxValue would wrap
      // `body + size` negative and bypass this bound
      if (size < 0 || body.toLong + size > bytes.length) return None
      id match {
        case "fmt " =>
          if (size < 16) return None
          val audioFormat = le16(bytes, body)
          val channels = le16(bytes, body + 2)
          val bits = le16(bytes, body + 14)
          if (audioFormat != 1 || channels != 1 || bits != 16) return None
          fmtOk = true
        case "data" =>
          val n = size / 2
          val samples = new Array[Int](n)
          var i = 0
          while (i < n) {
            // little-endian signed 16-bit
            samples(i) = (bytes(body + 2 * i) & 0xff) | (bytes(body + 2 * i + 1) << 8)
            i += 1
          }
          data = samples
        case _ => // skip unknown chunk (LIST, fact, ...)
      }
      pos = body + size + (size & 1) // RIFF chunks are word-aligned
    }
    if (fmtOk && data != null) Some(data) else None
  }

  // --------------------------------------------------------------- JPEG ----
  //
  // Baseline JPEG decoder, implemented from ITU-T T.81 (the public JPEG
  // spec): marker/segment parse, DQT/DHT tables, canonical huffman DECODE
  // (Annex F.2.2.3 MINCODE/MAXCODE/VALPTR), sequential-DCT scan with
  // restart markers, dequantize + de-zigzag, the classic 13-bit fixed-point
  // Loeffler-Lighterberg-Moshytz integer IDCT (the same arithmetic the IJG
  // reference implementation standardized, so outputs line up with every
  // mainstream decoder), triangular ("fancy") chroma upsampling for the 2:1
  // cases, and 16-bit fixed-point YCbCr→RGB. Supported profile: 8-bit
  // baseline/extended-sequential huffman (SOF0/SOF1), 1 or 3 components,
  // sampling factors 1-2 (grayscale, 4:4:4, 4:2:2, 4:2:0). Progressive
  // (SOF2), arithmetic coding, 12-bit, and CMYK return None so callers can
  // fall back.

  /** Natural-order index for each zigzag position (T.81 Figure A.6). */
  private val Zigzag: Array[Int] = Array(
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63)

  /** Canonical huffman table (T.81 Annex C code assignment, Annex F decode). */
  private final class JpegHuff(counts: Array[Int], val symbols: Array[Int]) {
    val minCode = new Array[Int](17)
    val maxCode = new Array[Int](17)
    val valPtr = new Array[Int](17)
    locally {
      var code = 0
      var k = 0
      var l = 1
      while (l <= 16) {
        valPtr(l) = k
        minCode(l) = code
        code += counts(l - 1)
        k += counts(l - 1)
        maxCode(l) = if (counts(l - 1) > 0) code - 1 else -1
        code <<= 1
        l += 1
      }
    }
  }

  /** Entropy-coded-segment bit reader: handles 0xFF00 byte stuffing; any
    * bare marker mid-stream aborts the decode (malformed for our profile —
    * restarts are consumed explicitly between MCU groups, not here). */
  private final class JpegBits(b: Array[Byte], var pos: Int) {
    private var acc = 0
    private var nbits = 0
    def readBit(): Int = {
      if (nbits == 0) {
        if (pos >= b.length) throw new IllegalArgumentException("jpeg: truncated scan")
        var v = b(pos) & 0xff
        pos += 1
        if (v == 0xff) {
          if (pos >= b.length) throw new IllegalArgumentException("jpeg: truncated scan")
          val m = b(pos) & 0xff
          if (m != 0) throw new IllegalArgumentException(f"jpeg: marker $m%02x inside scan")
          pos += 1 // stuffed zero: the data byte IS 0xff
        }
        acc = v
        nbits = 8
      }
      nbits -= 1
      (acc >>> nbits) & 1
    }
    def receive(n: Int): Int = {
      var v = 0
      var i = 0
      while (i < n) { v = (v << 1) | readBit(); i += 1 }
      v
    }
    /** Discard bits to the next byte boundary (before a restart marker). */
    def align(): Unit = nbits = 0
    def decode(h: JpegHuff): Int = {
      var code = readBit()
      var l = 1
      while (code > h.maxCode(l) || h.maxCode(l) < 0) {
        if (l >= 16) throw new IllegalArgumentException("jpeg: bad huffman code")
        code = (code << 1) | readBit()
        l += 1
      }
      h.symbols(h.valPtr(l) + code - h.minCode(l))
    }
  }

  /** T.81 F.2.2.1 EXTEND: map an SSSS-bit magnitude to its signed value. */
  private def jExtend(v: Int, t: Int): Int =
    if (t == 0) 0 else if (v < (1 << (t - 1))) v - (1 << t) + 1 else v

  private def jDescale(x: Long, n: Int): Int = ((x + (1L << (n - 1))) >> n).toInt

  // 13-bit fixed-point IDCT constants: round(c * 2^13) for the rotation
  // angles of the Loeffler 8-point factorization
  private final val FIX_0_298631336 = 2446L
  private final val FIX_0_390180644 = 3196L
  private final val FIX_0_541196100 = 4433L
  private final val FIX_0_765366865 = 6270L
  private final val FIX_0_899976223 = 7373L
  private final val FIX_1_175875602 = 9633L
  private final val FIX_1_501321110 = 12299L
  private final val FIX_1_847759065 = 15137L
  private final val FIX_1_961570560 = 16069L
  private final val FIX_2_053119869 = 16819L
  private final val FIX_2_562915447 = 20995L
  private final val FIX_3_072711026 = 25172L
  private final val ConstBits = 13
  private final val Pass1Bits = 2

  /** 2-D integer IDCT on one dequantized 8×8 block (natural order), writing
    * level-shifted, clamped 8-bit samples into `out` at `(ox, oy)` with row
    * stride `stride`. Column pass at 13+2 fractional bits, row pass
    * descaled by 13+2+3 — the standard "islow" accuracy profile. */
  private def idctBlock(
      coef: Array[Int], ws: Array[Long], out: Array[Int], ox: Int, oy: Int, stride: Int): Unit = {
    // pass 1: columns
    var c = 0
    while (c < 8) {
      val s0 = coef(c); val s1 = coef(8 + c); val s2 = coef(16 + c); val s3 = coef(24 + c)
      val s4 = coef(32 + c); val s5 = coef(40 + c); val s6 = coef(48 + c); val s7 = coef(56 + c)
      if ((s1 | s2 | s3 | s4 | s5 | s6 | s7) == 0) {
        val dc = (s0.toLong << Pass1Bits)
        var r = 0
        while (r < 8) { ws(r * 8 + c) = dc; r += 1 }
      } else {
        // even part
        val z1 = (s2 + s6) * FIX_0_541196100
        val tmp2 = z1 - s6 * FIX_1_847759065
        val tmp3 = z1 + s2 * FIX_0_765366865
        val tmp0 = (s0.toLong + s4) << ConstBits
        val tmp1 = (s0.toLong - s4) << ConstBits
        val t10 = tmp0 + tmp3; val t13 = tmp0 - tmp3
        val t11 = tmp1 + tmp2; val t12 = tmp1 - tmp2
        // odd part
        var o0 = s7.toLong; var o1 = s5.toLong; var o2 = s3.toLong; var o3 = s1.toLong
        var w1 = o0 + o3; var w2 = o1 + o2
        var w3 = o0 + o2; var w4 = o1 + o3
        val z5 = (w3 + w4) * FIX_1_175875602
        o0 *= FIX_0_298631336; o1 *= FIX_2_053119869
        o2 *= FIX_3_072711026; o3 *= FIX_1_501321110
        w1 *= -FIX_0_899976223; w2 *= -FIX_2_562915447
        w3 = w3 * -FIX_1_961570560 + z5
        w4 = w4 * -FIX_0_390180644 + z5
        o0 += w1 + w3; o1 += w2 + w4; o2 += w2 + w3; o3 += w1 + w4
        ws(c) = jDescale(t10 + o3, ConstBits - Pass1Bits)
        ws(56 + c) = jDescale(t10 - o3, ConstBits - Pass1Bits)
        ws(8 + c) = jDescale(t11 + o2, ConstBits - Pass1Bits)
        ws(48 + c) = jDescale(t11 - o2, ConstBits - Pass1Bits)
        ws(16 + c) = jDescale(t12 + o1, ConstBits - Pass1Bits)
        ws(40 + c) = jDescale(t12 - o1, ConstBits - Pass1Bits)
        ws(24 + c) = jDescale(t13 + o0, ConstBits - Pass1Bits)
        ws(32 + c) = jDescale(t13 - o0, ConstBits - Pass1Bits)
      }
      c += 1
    }
    // pass 2: rows, with final level shift (+128) and clamp
    var r = 0
    while (r < 8) {
      val b = r * 8
      val s0 = ws(b); val s1 = ws(b + 1); val s2 = ws(b + 2); val s3 = ws(b + 3)
      val s4 = ws(b + 4); val s5 = ws(b + 5); val s6 = ws(b + 6); val s7 = ws(b + 7)
      val z1 = (s2 + s6) * FIX_0_541196100
      val tmp2 = z1 - s6 * FIX_1_847759065
      val tmp3 = z1 + s2 * FIX_0_765366865
      val tmp0 = (s0 + s4) << ConstBits
      val tmp1 = (s0 - s4) << ConstBits
      val t10 = tmp0 + tmp3; val t13 = tmp0 - tmp3
      val t11 = tmp1 + tmp2; val t12 = tmp1 - tmp2
      var o0 = s7; var o1 = s5; var o2 = s3; var o3 = s1
      var w1 = o0 + o3; var w2 = o1 + o2
      var w3 = o0 + o2; var w4 = o1 + o3
      val z5 = (w3 + w4) * FIX_1_175875602
      o0 *= FIX_0_298631336; o1 *= FIX_2_053119869
      o2 *= FIX_3_072711026; o3 *= FIX_1_501321110
      w1 *= -FIX_0_899976223; w2 *= -FIX_2_562915447
      w3 = w3 * -FIX_1_961570560 + z5
      w4 = w4 * -FIX_0_390180644 + z5
      o0 += w1 + w3; o1 += w2 + w4; o2 += w2 + w3; o3 += w1 + w4
      val shift = ConstBits + Pass1Bits + 3
      val row = (oy + r) * stride + ox
      def clamp(v: Int): Int = { val s = v + 128; if (s < 0) 0 else if (s > 255) 255 else s }
      out(row) = clamp(jDescale(t10 + o3, shift))
      out(row + 7) = clamp(jDescale(t10 - o3, shift))
      out(row + 1) = clamp(jDescale(t11 + o2, shift))
      out(row + 6) = clamp(jDescale(t11 - o2, shift))
      out(row + 2) = clamp(jDescale(t12 + o1, shift))
      out(row + 5) = clamp(jDescale(t12 - o1, shift))
      out(row + 3) = clamp(jDescale(t13 + o0, shift))
      out(row + 4) = clamp(jDescale(t13 - o0, shift))
      r += 1
    }
  }

  private final class JpegComponent(val id: Int, val h: Int, val v: Int, val tq: Int) {
    var dcTab: JpegHuff = null
    var acTab: JpegHuff = null
    var plane: Array[Int] = null // padded to full MCU blocks
    var planeW = 0
    var planeH = 0
    var pred = 0
  }

  /** Decode a baseline/extended-sequential huffman JPEG (see the section
    * comment for the exact profile). Returns top-down interleaved RGB
    * (grayscale replicated across channels), or None for malformed files
    * and unsupported variants so callers can fall back. */
  def decodeJpeg(bytes: Array[Byte]): Option[DecodedImage] =
    try decodeJpegImpl(bytes)
    catch { case _: RuntimeException | _: ArrayIndexOutOfBoundsException => None }

  private def be16(b: Array[Byte], off: Int): Int =
    ((b(off) & 0xff) << 8) | (b(off + 1) & 0xff)

  private def decodeJpegImpl(b: Array[Byte]): Option[DecodedImage] = {
    if (b.length < 4 || (b(0) & 0xff) != 0xff || (b(1) & 0xff) != 0xd8) return None
    val quant = new Array[Array[Int]](4) // zigzag order, as transmitted
    val dcTabs = new Array[JpegHuff](4)
    val acTabs = new Array[JpegHuff](4)
    var restartInterval = 0
    var width = 0
    var height = 0
    var comps: Array[JpegComponent] = null
    var pos = 2
    while (pos + 4 <= b.length) {
      if ((b(pos) & 0xff) != 0xff) return None
      while (pos < b.length && (b(pos) & 0xff) == 0xff) pos += 1 // fill bytes
      if (pos >= b.length) return None
      val marker = b(pos) & 0xff
      pos += 1
      marker match {
        case 0xd9 => return None // EOI before any scan produced an image
        case 0xc0 | 0xc1 => // SOF0 baseline / SOF1 extended sequential
          val len = be16(b, pos)
          if (b(pos + 2) != 8) return None // 12-bit precision unsupported
          height = be16(b, pos + 3)
          width = be16(b, pos + 5)
          val nc = b(pos + 7) & 0xff
          if (width <= 0 || height <= 0 || (nc != 1 && nc != 3)) return None
          if (width.toLong * height * 3 > Int.MaxValue) return None
          // hostile-input bound (the decodeBmp posture): the declared raster
          // must be plausible for the payload size. Baseline huffman needs
          // ≥1 bit per 8×8 block per component ≈ hundreds of pixels/byte at
          // the theoretical floor; 4096 px/byte is far past any real JPEG,
          // so a few-KB header declaring a multi-GB raster dies here instead
          // of OOMing the executor on the plane allocation.
          if (width.toLong * height > 4096L * b.length) return None
          comps = Array.tabulate(nc) { i =>
            val o = pos + 8 + 3 * i
            val hv = b(o + 1) & 0xff
            new JpegComponent(b(o) & 0xff, hv >> 4, hv & 15, b(o + 2) & 0xff)
          }
          if (comps.exists(c => c.h < 1 || c.h > 2 || c.v < 1 || c.v > 2)) return None
          pos += len
        case 0xc2 => return None // progressive: outside the profile
        case m if m >= 0xc3 && m <= 0xcf && m != 0xc4 && m != 0xc8 && m != 0xcc =>
          return None // other SOFn (lossless, arithmetic, differential)
        case 0xc4 => // DHT: one or more tables
          val len = be16(b, pos)
          val end = pos + len
          var p = pos + 2
          while (p < end) {
            val tc = (b(p) & 0xff) >> 4
            val th = b(p) & 0x0f
            if (tc > 1 || th > 3) return None
            val counts = Array.tabulate(16)(i => b(p + 1 + i) & 0xff)
            val total = counts.sum
            if (total > 256 || p + 17 + total > end) return None
            val syms = Array.tabulate(total)(i => b(p + 17 + i) & 0xff)
            val tab = new JpegHuff(counts, syms)
            if (tc == 0) dcTabs(th) = tab else acTabs(th) = tab
            p += 17 + total
          }
          pos += len
        case 0xdb => // DQT: one or more tables
          val len = be16(b, pos)
          val end = pos + len
          var p = pos + 2
          while (p < end) {
            val pq = (b(p) & 0xff) >> 4
            val tq = b(p) & 0x0f
            if (pq > 1 || tq > 3) return None
            val t = new Array[Int](64)
            var i = 0
            while (i < 64) {
              t(i) = if (pq == 0) b(p + 1 + i) & 0xff else be16(b, p + 1 + 2 * i)
              i += 1
            }
            quant(tq) = t
            p += 1 + (if (pq == 0) 64 else 128)
          }
          pos += len
        case 0xdd => // DRI
          restartInterval = be16(b, pos + 2)
          pos += be16(b, pos)
        case 0xda => // SOS — decode the (single, interleaved) scan
          if (comps == null) return None
          val len = be16(b, pos)
          val ns = b(pos + 2) & 0xff
          if (ns != comps.length) return None // baseline: one interleaved scan
          var i = 0
          while (i < ns) {
            val cs = b(pos + 3 + 2 * i) & 0xff
            val tt = b(pos + 4 + 2 * i) & 0xff
            val found = comps.find(_.id == cs)
            if (found.isEmpty) return None
            val comp = found.get
            comp.dcTab = dcTabs(tt >> 4)
            comp.acTab = acTabs(tt & 15)
            if (comp.dcTab == null || comp.acTab == null || quant(comp.tq) == null) return None
            i += 1
          }
          return decodeJpegScan(b, pos + len, width, height, comps, quant, restartInterval)
        case 0x01 | 0xd0 | 0xd1 | 0xd2 | 0xd3 | 0xd4 | 0xd5 | 0xd6 | 0xd7 =>
          () // TEM/RSTn: standalone markers, no length field
        case _ => // APPn, COM, DNL, ... — skip by length
          pos += be16(b, pos)
      }
    }
    None
  }

  private def decodeJpegScan(
      b: Array[Byte],
      scanStart: Int,
      width: Int,
      height: Int,
      comps: Array[JpegComponent],
      quant: Array[Array[Int]],
      restartInterval: Int): Option[DecodedImage] = {
    val hmax = comps.map(_.h).max
    val vmax = comps.map(_.v).max
    val mcusX = (width + 8 * hmax - 1) / (8 * hmax)
    val mcusY = (height + 8 * vmax - 1) / (8 * vmax)
    comps.foreach { c =>
      c.planeW = mcusX * c.h * 8
      c.planeH = mcusY * c.v * 8
      c.plane = new Array[Int](c.planeW * c.planeH)
      c.pred = 0
    }
    val bits = new JpegBits(b, scanStart)
    val coef = new Array[Int](64)
    val ws = new Array[Long](64) // IDCT workspace, reused across all blocks
    var mcu = 0
    var restarts = 0
    val totalMcus = mcusX * mcusY
    while (mcu < totalMcus) {
      if (restartInterval > 0 && mcu > 0 && mcu % restartInterval == 0) {
        bits.align()
        // consume the RSTn marker (cyclic 0xd0..0xd7) and reset predictors
        if ((b(bits.pos) & 0xff) != 0xff || (b(bits.pos + 1) & 0xff) != (0xd0 + restarts % 8))
          return None
        bits.pos += 2
        restarts += 1
        comps.foreach(_.pred = 0)
      }
      val my = mcu / mcusX
      val mx = mcu % mcusX
      var ci = 0
      while (ci < comps.length) {
        val c = comps(ci)
        val qt = quant(c.tq)
        var by = 0
        while (by < c.v) {
          var bx = 0
          while (bx < c.h) {
            java.util.Arrays.fill(coef, 0)
            // DC: predictor + EXTENDed diff, dequantized. T.81 bounds the
            // DC magnitude category at 11 for 8-bit data; a corrupt table
            // can emit any symbol byte, and an unchecked t would silently
            // mis-shift (1 << t wraps at 32) instead of rejecting the file
            val t = bits.decode(c.dcTab)
            if (t > 11) return None
            c.pred += jExtend(bits.receive(t), t)
            coef(0) = c.pred * qt(0)
            // AC: run-length (RRRRSSSS) in zigzag order
            var k = 1
            while (k < 64) {
              val rs = bits.decode(c.acTab)
              val r = rs >> 4
              val s = rs & 15
              if (s == 0) {
                if (r == 15) k += 16 // ZRL: 16 zeros
                else k = 64 // EOB
              } else {
                k += r
                if (k > 63 || s > 10) return None // T.81: AC SSSS ≤ 10 at 8-bit
                coef(Zigzag(k)) = jExtend(bits.receive(s), s) * qt(k)
                k += 1
              }
            }
            idctBlock(coef, ws, c.plane, (mx * c.h + bx) * 8, (my * c.v + by) * 8, c.planeW)
            bx += 1
          }
          by += 1
        }
        ci += 1
      }
      mcu += 1
    }
    // upsample each component to full resolution and color-convert
    val full = comps.map(c => upsampleJpegPlane(c, width, height, hmax, vmax))
    val out = new Array[Byte](width * height * 3)
    if (comps.length == 1) {
      var i = 0
      val y = full(0)
      while (i < width * height) {
        val g = y(i).toByte
        out(3 * i) = g; out(3 * i + 1) = g; out(3 * i + 2) = g
        i += 1
      }
    } else {
      // JFIF YCbCr, 16-bit fixed point: R=Y+1.402Cr, B=Y+1.772Cb,
      // G=Y-0.34414Cb-0.71414Cr (constants × 2^16, half-added rounding)
      val yp = full(0); val cbp = full(1); val crp = full(2)
      var i = 0
      while (i < width * height) {
        val y = yp(i)
        val cb = cbp(i) - 128
        val cr = crp(i) - 128
        val r = y + ((91881 * cr + 32768) >> 16)
        val g = y + ((-22554 * cb - 46802 * cr + 32768) >> 16)
        val bl = y + ((116130 * cb + 32768) >> 16)
        def cl(v: Int): Byte = (if (v < 0) 0 else if (v > 255) 255 else v).toByte
        out(3 * i) = cl(r); out(3 * i + 1) = cl(g); out(3 * i + 2) = cl(bl)
        i += 1
      }
    }
    Some(DecodedImage(width, height, out))
  }

  /** Upsample one component plane to the full image grid. The 2:1 cases use
    * triangular ("fancy") interpolation — 3:1 weighting of the nearer
    * sample, the scheme mainstream decoders default to — so edges stay
    * smooth; anything else falls back to nearest-neighbor replication. */
  private def upsampleJpegPlane(
      c: JpegComponent, width: Int, height: Int, hmax: Int, vmax: Int): Array[Int] = {
    if (c.h == hmax && c.v == vmax) {
      if (c.planeW == width && c.planeH == height) return c.plane
      val out = new Array[Int](width * height)
      var y = 0
      while (y < height) {
        System.arraycopy(c.plane, y * c.planeW, out, y * width, width)
        y += 1
      }
      return out
    }
    val compW = (width * c.h + hmax - 1) / hmax
    val compH = (height * c.v + vmax - 1) / vmax
    val out = new Array[Int](width * height)
    val h2 = c.h * 2 == hmax
    val v2 = c.v * 2 == vmax
    if (h2 && (v2 || c.v == vmax)) {
      // triangular: vertical pair weights 3:1 (when v2), then horizontal
      var y = 0
      while (y < height) {
        val sy = if (v2) y >> 1 else y
        val syn = if (!v2) sy
          else if ((y & 1) == 0) math.max(sy - 1, 0) // upper output row leans up
          else math.min(sy + 1, compH - 1) // lower leans down
        var x = 0
        while (x < width) {
          val sx = x >> 1
          val sxn = if ((x & 1) == 0) math.max(sx - 1, 0) else math.min(sx + 1, compW - 1)
          val near = 3 * c.plane(sy * c.planeW + sx) + c.plane(sy * c.planeW + sxn)
          val v = if (!v2) (near + 2) >> 2
          else {
            val far = 3 * c.plane(syn * c.planeW + sx) + c.plane(syn * c.planeW + sxn)
            (3 * near + far + 8) >> 4
          }
          out(y * width + x) = v
          x += 1
        }
        y += 1
      }
    } else {
      var y = 0
      while (y < height) {
        val sy = y * c.v / vmax
        var x = 0
        while (x < width) {
          out(y * width + x) = c.plane(sy * c.planeW + x * c.h / hmax)
          x += 1
        }
        y += 1
      }
    }
    out
  }

  /** Per-thread cached JPEG writer: ImageIO writers are reusable but not
    * thread-safe, and the ServiceRegistry lookup is too expensive for a
    * per-row hot path (the mm pipelines encode a third of the corpus).
    * Deliberately never disposed: executor task pools are fixed-size, so
    * the retained writers are bounded by the pool size and live for the
    * JVM — the per-encode dispose/re-lookup alternative costs more than
    * the handful of cached native buffers it would free. */
  private val jpegWriter = new ThreadLocal[javax.imageio.ImageWriter] {
    override def initialValue(): javax.imageio.ImageWriter =
      javax.imageio.ImageIO.getImageWritersByFormatName("jpeg").next()
  }

  /** Encode a top-down RGB raster as baseline JPEG via the JDK's bundled
    * ImageIO writer (public JDK API) — the one codec direction this file
    * does not re-implement; [[decodeJpeg]], the hard direction, is ours.
    * In-memory output stream (no ImageIO disk cache), so it is safe inside
    * `mapPartitions` on executors. */
  def encodeJpeg(width: Int, height: Int, rgb: Array[Byte], quality: Float = 0.9f): Array[Byte] = {
    require(width > 0 && height > 0, s"bad dims ${width}x$height")
    require(rgb.length == width * height * 3, s"rgb length ${rgb.length} != ${width * height * 3}")
    val bi = new java.awt.image.BufferedImage(
      width, height, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    val data = bi.getRaster.getDataBuffer
      .asInstanceOf[java.awt.image.DataBufferByte].getData
    var i = 0
    while (i < width * height) {
      data(3 * i) = rgb(3 * i + 2) // B
      data(3 * i + 1) = rgb(3 * i + 1) // G
      data(3 * i + 2) = rgb(3 * i) // R
      i += 1
    }
    val writer = jpegWriter.get()
    val param = writer.getDefaultWriteParam
    param.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    param.setCompressionQuality(quality)
    val bos = new java.io.ByteArrayOutputStream()
    val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
    try {
      writer.setOutput(ios)
      writer.write(null, new javax.imageio.IIOImage(bi, null, null), param)
      ios.flush()
    } finally {
      writer.setOutput(null) // keep the cached writer; just detach the stream
      ios.close()
    }
    bos.toByteArray
  }
}
