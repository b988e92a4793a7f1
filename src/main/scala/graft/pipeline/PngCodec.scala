package graft.pipeline

/** Minimal, EXACT PNG codec for the synthetic media fixtures and the
  * gray decode hot path (optimization guide §1.2 step 2 — per-task
  * work: ImageIO's PNG writer runs max-level deflate with adaptive
  * filtering and its reader pays BufferedImage + color-model
  * machinery; both dominated the render/decode stages of every image
  * gate in the OPTIMIZATION_r15.md per-image measurement).
  *
  * PNG is lossless and its decode is bit-exactly specified, so both
  * directions preserve pixels EXACTLY:
  *  - [[encodeGrayRgb]] writes the same (g,g,g) truecolor pixels the
  *    old BufferedImage+ImageIO.write path encoded — any compliant
  *    reader (ImageIO included) decodes the identical pixel grid; only
  *    the compressed byte stream differs (filter None + BEST_SPEED
  *    deflate instead of adaptive filters + max deflate). Deflate is
  *    deterministic for a fixed level, so equal-seed renders stay
  *    byte-identical (the p203 exact-group contract).
  *  - [[decodeGray]] implements the full spec for the shapes the
  *    corpus produces (8-bit truecolor, non-interlaced, all five
  *    filter types) and returns null for anything else — callers
  *    fall back to ImageIO, so exotic payloads keep the old path. A
  *    spec pins gray-array equality against the ImageIO decode for
  *    both encoders across a seed range.
  */
private[graft] object PngCodec {

  private val Sig = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0D, 0x0A,
    0x1A, 0x0A)

  private def chunk(out: java.io.ByteArrayOutputStream, tag: String,
      body: Array[Byte]): Unit = {
    val len = body.length
    out.write((len >>> 24) & 0xFF); out.write((len >>> 16) & 0xFF)
    out.write((len >>> 8) & 0xFF); out.write(len & 0xFF)
    val tagB = tag.getBytes("US-ASCII")
    val crc = new java.util.zip.CRC32()
    crc.update(tagB); crc.update(body)
    out.write(tagB, 0, 4)
    out.write(body, 0, len)
    val c = crc.getValue
    out.write(((c >>> 24) & 0xFF).toInt); out.write(((c >>> 16) & 0xFF).toInt)
    out.write(((c >>> 8) & 0xFF).toInt); out.write((c & 0xFF).toInt)
  }

  /** Encode a packed 0xRRGGBB pixel array as an 8-bit truecolor PNG
    * (color type 2, filter None per scanline, BEST_SPEED deflate).
    * Decoded pixels are identical to the ImageIO TYPE_INT_RGB write of
    * the same array; only the container bytes differ.
    */
  def encodeGrayRgb(px: Array[Int], w: Int, h: Int): Array[Byte] = {
    val raw = new Array[Byte](h * (1 + 3 * w))
    var y = 0
    var o = 0
    while (y < h) {
      raw(o) = 0 // filter: None
      o += 1
      var x = 0
      val base = y * w
      while (x < w) {
        val p = px(base + x)
        raw(o) = ((p >>> 16) & 0xFF).toByte
        raw(o + 1) = ((p >>> 8) & 0xFF).toByte
        raw(o + 2) = (p & 0xFF).toByte
        o += 3; x += 1
      }
      y += 1
    }
    val d = new java.util.zip.Deflater(java.util.zip.Deflater.BEST_SPEED)
    d.setInput(raw); d.finish()
    val comp = new java.io.ByteArrayOutputStream(raw.length / 2 + 64)
    val buf = new Array[Byte](16384)
    while (!d.finished()) comp.write(buf, 0, d.deflate(buf))
    d.end()
    val out = new java.io.ByteArrayOutputStream(comp.size() + 64)
    out.write(Sig, 0, 8)
    val ihdr = new Array[Byte](13)
    ihdr(0) = ((w >>> 24) & 0xFF).toByte; ihdr(1) = ((w >>> 16) & 0xFF).toByte
    ihdr(2) = ((w >>> 8) & 0xFF).toByte; ihdr(3) = (w & 0xFF).toByte
    ihdr(4) = ((h >>> 24) & 0xFF).toByte; ihdr(5) = ((h >>> 16) & 0xFF).toByte
    ihdr(6) = ((h >>> 8) & 0xFF).toByte; ihdr(7) = (h & 0xFF).toByte
    ihdr(8) = 8 // bit depth
    ihdr(9) = 2 // color type: truecolor
    // compression 0, filter 0, interlace 0 already zero
    chunk(out, "IHDR", ihdr)
    chunk(out, "IDAT", comp.toByteArray)
    chunk(out, "IEND", Array.emptyByteArray)
    out.toByteArray
  }

  /** Decode a PNG to the BT.601 integer-luma grid (299R + 587G + 114B
    * — exactly what [[Multimodal.withDecodedGray]] computes from
    * ImageIO's getRGB) plus dimensions. Returns null unless the stream
    * is a well-formed 8-bit color-type 2 (truecolor) non-interlaced
    * PNG with no palette/transparency chunk — callers fall back to
    * ImageIO. Color types 0/6 also bail out: ImageIO's getRGB runs
    * gray->sRGB color-space conversion for type 0 (values != v) and
    * alpha handling for type 6, so only the type-2 fast path is
    * provably bit-identical to the old path.
    * Unfiltering implements all five spec filters, so PNGs written by
    * ImageIO's adaptive-filter encoder decode exactly too.
    */
  def decodeGray(bytes: Array[Byte]): (Array[Int], Int, Int) = {
    if (bytes == null || bytes.length < 45) return null
    var i = 0
    while (i < 8) { if (bytes(i) != Sig(i)) return null; i += 1 }
    def u32(o: Int): Int =
      ((bytes(o) & 0xFF) << 24) | ((bytes(o + 1) & 0xFF) << 16) |
        ((bytes(o + 2) & 0xFF) << 8) | (bytes(o + 3) & 0xFF)
    var pos = 8
    var w = 0; var h = 0; var colorType = -1
    val idat = new java.io.ByteArrayOutputStream()
    var done = false
    while (!done) {
      if (pos + 8 > bytes.length) return null
      val len = u32(pos)
      if (len < 0 || pos + 12 + len > bytes.length) return null
      val tag = new String(bytes, pos + 4, 4, "US-ASCII")
      tag match {
        case "IHDR" =>
          if (len != 13) return null
          w = u32(pos + 8); h = u32(pos + 12)
          val bitDepth = bytes(pos + 16)
          colorType = bytes(pos + 17)
          val interlace = bytes(pos + 20)
          if (bitDepth != 8 || interlace != 0 || colorType != 2)
            return null
          if (w <= 0 || h <= 0 || w.toLong * h > Int.MaxValue / 8)
            return null
        case "IDAT" => idat.write(bytes, pos + 8, len)
        case "PLTE" | "tRNS" => return null
        case "IEND" => done = true
        case _ => () // ancillary chunk — pixel-irrelevant, skip
      }
      pos += 12 + len
    }
    if (colorType < 0 || idat.size() == 0) return null
    val bpp = 3
    val stride = 1 + bpp * w
    val raw = new Array[Byte](stride * h)
    val inf = new java.util.zip.Inflater()
    inf.setInput(idat.toByteArray)
    var filled = 0
    try {
      while (filled < raw.length && !inf.finished()) {
        val n = inf.inflate(raw, filled, raw.length - filled)
        if (n == 0 && inf.needsInput()) return null // truncated
        filled += n
      }
    } catch {
      case _: java.util.zip.DataFormatException => return null
    } finally inf.end()
    if (filled != raw.length) return null
    // unfilter in place, scanline by scanline (PNG spec §6)
    var y = 0
    while (y < h) {
      val rowOff = y * stride
      val ft = raw(rowOff) & 0xFF
      val data = rowOff + 1
      val prev = data - stride
      ft match {
        case 0 => () // None
        case 1 => // Sub
          var x = bpp
          while (x < bpp * w) {
            raw(data + x) = (raw(data + x) + raw(data + x - bpp)).toByte
            x += 1
          }
        case 2 => // Up
          if (y > 0) {
            var x = 0
            while (x < bpp * w) {
              raw(data + x) = (raw(data + x) + raw(prev + x)).toByte
              x += 1
            }
          }
        case 3 => // Average
          var x = 0
          while (x < bpp * w) {
            val a = if (x >= bpp) raw(data + x - bpp) & 0xFF else 0
            val b = if (y > 0) raw(prev + x) & 0xFF else 0
            raw(data + x) = (raw(data + x) + ((a + b) >>> 1)).toByte
            x += 1
          }
        case 4 => // Paeth
          var x = 0
          while (x < bpp * w) {
            val a = if (x >= bpp) raw(data + x - bpp) & 0xFF else 0
            val b = if (y > 0) raw(prev + x) & 0xFF else 0
            val c =
              if (x >= bpp && y > 0) raw(prev + x - bpp) & 0xFF else 0
            val p = a + b - c
            val pa = math.abs(p - a); val pb = math.abs(p - b)
            val pc = math.abs(p - c)
            val pred = if (pa <= pb && pa <= pc) a
              else if (pb <= pc) b else c
            raw(data + x) = (raw(data + x) + pred).toByte
            x += 1
          }
        case _ => return null
      }
      y += 1
    }
    val gray = new Array[Int](w * h)
    y = 0
    while (y < h) {
      val data = y * stride + 1
      var x = 0
      val base = y * w
      while (x < w) {
        val o = data + 3 * x
        gray(base + x) = 299 * (raw(o) & 0xFF) +
          587 * (raw(o + 1) & 0xFF) + 114 * (raw(o + 2) & 0xFF)
        x += 1
      }
      y += 1
    }
    (gray, w, h)
  }
}
