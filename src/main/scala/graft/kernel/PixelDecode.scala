package graft.kernel

/** Pure-JVM PIXEL decoders for the raster containers decodable with
  * zero codec dependencies: PNG (zlib via `java.util.zip.Inflater` +
  * the five PNG scanline filters), BMP (raw padded rows), GIF (from-
  * scratch LZW), TIFF (raw or LZW strips, optional horizontal
  * predictor), and JPEG — baseline AND progressive (kernel.JpegDecode —
  * from-scratch Huffman + IDCT, luma plane). ALL FIVE triage formats
  * decode real luma; what remains at the multimodal seam
  * (operators.Multimodal scaladoc) is exotic variants (arithmetic-coded
  * JPEG, JPEG-in-TIFF) and audio/video payloads.
  *
  * Scope (documented, spec-pinned):
  *   - PNG: 8-bit depth, color types 0 (gray), 2 (RGB), 3 (palette),
  *     4 (gray+alpha), 6 (RGBA), non-interlaced, one or more IDAT
  *     chunks. Interlaced/16-bit/sub-byte images return None (fall back
  *     to the seam), never throw.
  *   - BMP: BITMAPINFOHEADER family, uncompressed (BI_RGB), 8-bpp
  *     palette / 24-bpp BGR / 32-bpp BGRA, bottom-up or top-down.
  *   - GIF: 87a/89a, first full-frame image (animation frames beyond
  *     the first are triage-irrelevant), global or local palette,
  *     interlaced or sequential, hand-rolled LZW (variable code width,
  *     clear/end codes, 12-bit dict cap).
  *   - TIFF: compression 1 (uncompressed) or 5 (LZW, MSB-first with the
  *     early-change rule, optional horizontal predictor) strips, 8
  *     bits/sample, grayscale (photometric 0/1, incl. white-is-zero
  *     inversion) or RGB, either endianness. JPEG-in-TIFF → None.
  *   - Dimensions above the reference's resolution cap
  *     (MergeSpec.MaxImageDim per side) are not decoded — bounds the
  *     decode buffer exactly like the validation ladder bounds OCR.
  *
  * All paths are total: malformed, truncated, or out-of-scope payloads
  * return None (the kernel contract — a bad unit is data, not a crash).
  * Luma is integer BT.601: (77 R + 150 G + 29 B) >> 8 (77+150+29=256),
  * bit-deterministic across platforms.
  */
object PixelDecode {

  final case class Luma(width: Int, height: Int, luma: Array[Byte])

  def luma601(r: Int, g: Int, b: Int): Int = (77 * r + 150 * g + 29 * b) >> 8

  /** Grayscale decode of a PNG/JPEG/GIF/TIFF/BMP payload, dispatched on
    * the one raster magic table (`ImageHeader.formatOf`); None for
    * anything else.
    */
  def decodeLuma(b: Array[Byte]): Option[Luma] =
    try ImageHeader.formatOf(b).flatMap {
      case "png" => png(b)
      case "jpg" => JpegDecode.decode(b)
      case "gif" => gif(b)
      case "tiff" => tiff(b)
      case "bmp" => bmp(b)
      case _ => None
    } catch { case _: Exception => None }

  /** Box-filter resample of a decoded image to (tw × th): each output
    * pixel is the integer mean of its exact source box — deterministic,
    * no floating point.
    */
  def boxResample(src: Luma, tw: Int, th: Int): Array[Byte] = {
    val out = new Array[Byte](tw * th)
    var ty = 0
    while (ty < th) {
      val y0 = (ty.toLong * src.height / th).toInt
      val y1 = math.max(y0 + 1, ((ty + 1).toLong * src.height / th).toInt)
      var tx = 0
      while (tx < tw) {
        val x0 = (tx.toLong * src.width / tw).toInt
        val x1 = math.max(x0 + 1, ((tx + 1).toLong * src.width / tw).toInt)
        var sum = 0L
        var y = y0
        while (y < y1) {
          var x = x0
          val row = y * src.width
          while (x < x1) { sum += src.luma(row + x) & 0xff; x += 1 }
          y += 1
        }
        out(ty * tw + tx) = (sum / ((y1 - y0).toLong * (x1 - x0))).toByte
        tx += 1
      }
      ty += 1
    }
    out
  }

  // ------------------------------------------------------------------
  // PNG
  // ------------------------------------------------------------------

  private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xff
  private def be32(b: Array[Byte], i: Int): Long =
    (u8(b, i).toLong << 24) | (u8(b, i + 1) << 16) | (u8(b, i + 2) << 8) | u8(b, i + 3)
  private def le16(b: Array[Byte], i: Int): Int = u8(b, i) | (u8(b, i + 1) << 8)
  private def le32(b: Array[Byte], i: Int): Long =
    u8(b, i).toLong | (u8(b, i + 1).toLong << 8) | (u8(b, i + 2).toLong << 16) |
      (u8(b, i + 3).toLong << 24)

  private def png(b: Array[Byte]): Option[Luma] = {
    if (b.length < 33) return None
    if (!(b(12) == 'I' && b(13) == 'H' && b(14) == 'D' && b(15) == 'R')) return None
    val w = be32(b, 16)
    val h = be32(b, 20)
    if (w <= 0 || h <= 0 || w > MergeSpec.MaxImageDim || h > MergeSpec.MaxImageDim)
      return None
    val bitDepth = u8(b, 24)
    val colorType = u8(b, 25)
    val interlace = u8(b, 28)
    if (bitDepth != 8 || interlace != 0 || u8(b, 26) != 0 || u8(b, 27) != 0) return None
    val channels = colorType match {
      case 0 => 1; case 2 => 3; case 3 => 1; case 4 => 2; case 6 => 4
      case _ => return None
    }
    // walk chunks: collect PLTE (palette) and concatenated IDAT
    var palette: Array[Byte] = null
    val idat = new java.io.ByteArrayOutputStream(b.length)
    var i = 8
    var sawEnd = false
    while (i + 8 <= b.length && !sawEnd) {
      val len = be32(b, i)
      if (len < 0 || len > Int.MaxValue - 12 || i + 12 + len > b.length) return None
      val kind = new String(b, i + 4, 4, "US-ASCII")
      val l = len.toInt
      kind match {
        case "PLTE" => palette = java.util.Arrays.copyOfRange(b, i + 8, i + 8 + l)
        case "IDAT" => idat.write(b, i + 8, l)
        case "IEND" => sawEnd = true
        case _      => ()
      }
      i += 12 + l
    }
    if (idat.size() == 0) return None
    if (colorType == 3 && (palette == null || palette.length % 3 != 0)) return None
    val wi = w.toInt
    val hi = h.toInt
    val rowBytes = 1 + wi * channels
    val raw = new Array[Byte](rowBytes * hi)
    val inf = new java.util.zip.Inflater()
    try {
      inf.setInput(idat.toByteArray)
      var off = 0
      while (off < raw.length && !inf.finished()) {
        val n = inf.inflate(raw, off, raw.length - off)
        if (n == 0 && (inf.needsInput() || inf.needsDictionary())) return None
        off += n
      }
      if (off < raw.length) return None
    } finally inf.end()
    if (!unfilter(raw, wi, hi, channels)) return None
    // luma projection
    val out = new Array[Byte](wi * hi)
    var y = 0
    while (y < hi) {
      val rowOff = y * rowBytes + 1
      var x = 0
      while (x < wi) {
        val p = rowOff + x * channels
        val v = colorType match {
          case 0 | 4 => u8(raw, p) // gray (alpha ignored)
          case 2 | 6 => luma601(u8(raw, p), u8(raw, p + 1), u8(raw, p + 2))
          case 3 =>
            val pi = u8(raw, p) * 3
            if (pi + 2 >= palette.length) return None
            luma601(u8(palette, pi), u8(palette, pi + 1), u8(palette, pi + 2))
        }
        out(y * wi + x) = v.toByte
        x += 1
      }
      y += 1
    }
    Some(Luma(wi, hi, out))
  }

  /** In-place reversal of the five PNG scanline filters (spec §9): each
    * row starts with its filter-type byte; a/b/c are the Sub/Up/Average/
    * Paeth predictors over already-reconstructed bytes. Returns false on
    * a filter type > 4 — that's a corrupt stream per the spec, and the
    * contract is malformed → None, not Some(garbage).
    */
  private def unfilter(raw: Array[Byte], w: Int, h: Int, channels: Int): Boolean = {
    val rowBytes = 1 + w * channels
    val bpp = channels
    var y = 0
    while (y < h) {
      val ro = y * rowBytes
      val ft = raw(ro) & 0xff
      if (ft > 4) return false
      var i = 1
      while (i <= w * channels) {
        val x = raw(ro + i) & 0xff
        val a = if (i > bpp) raw(ro + i - bpp) & 0xff else 0
        val b = if (y > 0) raw(ro - rowBytes + i) & 0xff else 0
        val c = if (y > 0 && i > bpp) raw(ro - rowBytes + i - bpp) & 0xff else 0
        val v = ft match {
          case 0 => x
          case 1 => x + a
          case 2 => x + b
          case 3 => x + ((a + b) >> 1)
          case _ =>
            val p = a + b - c
            val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
            x + (if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c)
        }
        raw(ro + i) = v.toByte
        i += 1
      }
      y += 1
    }
    true
  }

  // ------------------------------------------------------------------
  // GIF (from-scratch LZW)
  // ------------------------------------------------------------------

  private def gif(b: Array[Byte]): Option[Luma] = {
    if (b.length < 13) return None
    val w = le16(b, 6)
    val h = le16(b, 8)
    if (w <= 0 || h <= 0 || w > MergeSpec.MaxImageDim || h > MergeSpec.MaxImageDim)
      return None
    val packed = u8(b, 10)
    var pos = 13
    var gct: Array[Byte] = null
    if ((packed & 0x80) != 0) {
      val n = 2 << (packed & 7)
      if (pos + 3 * n > b.length) return None
      gct = java.util.Arrays.copyOfRange(b, pos, pos + 3 * n)
      pos += 3 * n
    }
    while (pos < b.length) {
      u8(b, pos) match {
        case 0x21 => // extension block: label byte + sub-blocks to a 0 terminator
          pos += 2
          while (pos < b.length && u8(b, pos) != 0) pos += 1 + u8(b, pos)
          pos += 1
        case 0x2C => // image descriptor — decode the FIRST full frame
          if (pos + 10 > b.length) return None
          val left = le16(b, pos + 1); val top = le16(b, pos + 3)
          val iw = le16(b, pos + 5); val ih = le16(b, pos + 7)
          val ip = u8(b, pos + 9)
          pos += 10
          var pal = gct
          if ((ip & 0x80) != 0) {
            val n = 2 << (ip & 7)
            if (pos + 3 * n > b.length) return None
            pal = java.util.Arrays.copyOfRange(b, pos, pos + 3 * n)
            pos += 3 * n
          }
          // a partial first frame (animation delta) is not a triage raster
          if (pal == null || left != 0 || top != 0 || iw != w || ih != h) return None
          if (pos >= b.length) return None
          val minCode = u8(b, pos); pos += 1
          if (minCode < 2 || minCode > 8) return None
          val data = new java.io.ByteArrayOutputStream(b.length - pos)
          while (pos < b.length && u8(b, pos) != 0) {
            val n = u8(b, pos)
            if (pos + 1 + n > b.length) return None
            data.write(b, pos + 1, n)
            pos += 1 + n
          }
          val idx = lzwDecode(data.toByteArray, minCode, w * h) match {
            case Some(a) => a
            case None    => return None
          }
          // palette indices → luma, de-interlacing row order if flagged
          val out = new Array[Byte](w * h)
          val rowOrder: Seq[Int] =
            if ((ip & 0x40) == 0) 0 until h
            else (0 until h by 8) ++ (4 until h by 8) ++ (2 until h by 4) ++ (1 until h by 2)
          var src = 0
          rowOrder.foreach { y =>
            var x = 0
            while (x < w) {
              val pi = (idx(src) & 0xff) * 3
              if (pi + 2 >= pal.length) return None
              out(y * w + x) = luma601(u8(pal, pi), u8(pal, pi + 1), u8(pal, pi + 2)).toByte
              src += 1
              x += 1
            }
          }
          return Some(Luma(w, h, out))
        case 0x3B => return None // trailer before any image
        case _    => return None // desynced
      }
    }
    None
  }

  /** GIF-flavor LZW: variable code width starting at minCode+1, LSB-first
    * bit packing, clear/end codes, dict capped at 4096 entries; width
    * grows when the next free slot reaches the current code range.
    */
  private def lzwDecode(data: Array[Byte], minCode: Int, nPixels: Int): Option[Array[Byte]] = {
    val clear = 1 << minCode
    val end = clear + 1
    var codeSize = minCode + 1
    val prefix = new Array[Int](4096)
    val suffix = new Array[Byte](4096)
    var next = end + 1
    val out = new Array[Byte](nPixels)
    var outPos = 0
    var bitPos = 0
    val totalBits = data.length * 8
    val stack = new Array[Byte](4097)
    var prev = -1
    while (outPos < nPixels) {
      if (bitPos + codeSize > totalBits) return None // truncated stream
      var code = 0
      var i = 0
      while (i < codeSize) {
        val bp = bitPos + i
        if (((data(bp >> 3) >> (bp & 7)) & 1) != 0) code |= 1 << i
        i += 1
      }
      bitPos += codeSize
      if (code == clear) {
        next = end + 1; codeSize = minCode + 1; prev = -1
      } else if (code == end) {
        return if (outPos == nPixels) Some(out) else None
      } else if (prev < 0) {
        if (code >= clear) return None // first code after clear must be a literal
        out(outPos) = code.toByte; outPos += 1
        prev = code
      } else {
        if (code > next) return None // beyond the next free slot — corrupt
        // expand `code`; for the KwKwK case (code == next, the entry being
        // defined right now) the emitted string is expand(prev) + its own
        // first byte — expand prev and append that byte after the stack
        var sp = 0
        var c = if (code == next) prev else code
        while (c >= end + 1) { stack(sp) = suffix(c); sp += 1; c = prefix(c) }
        val first = c.toByte
        stack(sp) = first; sp += 1
        if (outPos + sp + (if (code == next) 1 else 0) > nPixels) return None
        var k = sp - 1
        while (k >= 0) { out(outPos) = stack(k); outPos += 1; k -= 1 }
        if (code == next) { out(outPos) = first; outPos += 1 }
        if (next < 4096) {
          prefix(next) = prev
          suffix(next) = first
          next += 1
          if (next < 4096 && next == (1 << codeSize) && codeSize < 12) codeSize += 1
        }
        prev = code
      }
    }
    Some(out)
  }

  // ------------------------------------------------------------------
  // TIFF (uncompressed or LZW strips)
  // ------------------------------------------------------------------

  private def tiff(b: Array[Byte]): Option[Luma] = {
    val le = b(0) == 'I'
    def rd16(i: Int): Int = if (le) le16(b, i) else ((u8(b, i) << 8) | u8(b, i + 1))
    def rd32(i: Int): Long = if (le) le32(b, i)
      else (u8(b, i).toLong << 24) | (u8(b, i + 1) << 16) | (u8(b, i + 2) << 8) | u8(b, i + 3)
    val ifd = rd32(4)
    if (ifd < 8 || ifd + 2 > b.length) return None
    val off = ifd.toInt
    val nEntries = rd16(off)
    // tag values: SHORT(3)/LONG(4); values fitting 4 bytes sit inline
    // (left-justified), larger arrays live at the offset field
    def values(p: Int): Option[Array[Long]] = {
      val typ = rd16(p + 2)
      val cnt = rd32(p + 4)
      if (cnt <= 0 || cnt > (1 << 20)) return None
      val sz = typ match { case 3 => 2; case 4 => 4; case _ => return None }
      val base = if (cnt * sz <= 4) p + 8 else {
        val o = rd32(p + 8)
        if (o < 0 || o + cnt * sz > b.length) return None
        o.toInt
      }
      Some(Array.tabulate(cnt.toInt) { k =>
        if (sz == 2) rd16(base + k * 2).toLong else rd32(base + k * 4)
      })
    }
    var w = -1L; var h = -1L; var comp = 1L; var photo = 1L; var spp = 1L
    var rps = -1L; var predictor = 1L
    var bits: Array[Long] = Array(8L)
    var stripOffs: Array[Long] = null
    var stripLens: Array[Long] = null
    var e = 0
    while (e < nEntries) {
      val p = off + 2 + e * 12
      if (p + 12 > b.length) return None
      rd16(p) match {
        case 256 => w = values(p).flatMap(_.headOption).getOrElse(-1L)
        case 257 => h = values(p).flatMap(_.headOption).getOrElse(-1L)
        case 258 => bits = values(p).getOrElse(return None)
        case 259 => comp = values(p).flatMap(_.headOption).getOrElse(-1L)
        case 262 => photo = values(p).flatMap(_.headOption).getOrElse(-1L)
        case 273 => stripOffs = values(p).getOrElse(return None)
        case 277 => spp = values(p).flatMap(_.headOption).getOrElse(-1L)
        case 278 => rps = values(p).flatMap(_.headOption).getOrElse(-1L)
        case 279 => stripLens = values(p).getOrElse(return None)
        case 317 => predictor = values(p).flatMap(_.headOption).getOrElse(-1L)
        case _   => ()
      }
      e += 1
    }
    if (comp != 1L && comp != 5L) return None // uncompressed + LZW; JPEG-in-TIFF is the seam
    if (predictor != 1L && predictor != 2L) return None
    if (predictor == 2L && comp != 5L) return None // predictor is defined for compressed data
    if (w <= 0 || h <= 0 || w > MergeSpec.MaxImageDim || h > MergeSpec.MaxImageDim)
      return None
    if (!(photo == 0L || photo == 1L || photo == 2L)) return None
    if (!((spp == 1L && photo != 2L) || (spp == 3L && photo == 2L))) return None
    if (!bits.forall(_ == 8L)) return None
    if (stripOffs == null) return None
    val wi = w.toInt; val hi = h.toInt
    val rowBytes = wi * spp.toInt
    val rowsPerStrip = if (rps <= 0) hi.toLong else rps
    // concatenate strips into the raster. All arithmetic in Long first:
    // RowsPerStrip's spec default is 2^32-1 ("one strip"), which would
    // truncate negative as an Int product
    val raster = new Array[Byte](rowBytes * hi)
    var filled = 0
    var s = 0
    while (s < stripOffs.length && filled < raster.length) {
      val so = stripOffs(s)
      val want = math.min((raster.length - filled).toLong,
        rowsPerStrip * rowBytes).toInt
      if (comp == 1L) {
        val len = if (stripLens != null && s < stripLens.length)
          math.min(stripLens(s), want.toLong).toInt else want
        // strips are concatenated at the running offset, so a short
        // non-final strip would shift every subsequent row — malformed →
        // None, not Some(misaligned) (matches the contract elsewhere)
        if (len < want) return None
        if (so < 0 || so + len > b.length) return None
        System.arraycopy(b, so.toInt, raster, filled, len)
        filled += len
      } else { // LZW: each strip is an independent compressed stream
        if (stripLens == null || s >= stripLens.length) return None
        val slen = stripLens(s)
        if (so < 0 || slen <= 0 || so + slen > b.length) return None
        if (!tiffLzwStrip(b, so.toInt, slen.toInt, raster, filled, want)) return None
        filled += want
      }
      s += 1
    }
    if (filled < raster.length) return None
    // predictor 2: each sample is stored as the delta to the same sample
    // one pixel left — undo per row, per sample channel
    if (predictor == 2L) {
      val nch = spp.toInt
      var y = 0
      while (y < hi) {
        val ro = y * rowBytes
        var i = nch
        while (i < rowBytes) {
          raster(ro + i) = ((raster(ro + i) + raster(ro + i - nch)) & 0xff).toByte
          i += 1
        }
        y += 1
      }
    }
    val out = new Array[Byte](wi * hi)
    var i = 0
    while (i < wi * hi) {
      out(i) =
        if (spp == 1L) {
          val v = u8(raster, i)
          (if (photo == 0L) 255 - v else v).toByte // 0 = white-is-zero
        } else {
          val p = i * 3
          luma601(u8(raster, p), u8(raster, p + 1), u8(raster, p + 2)).toByte
        }
      i += 1
    }
    Some(Luma(wi, hi, out))
  }

  /** TIFF-flavor LZW (spec §13): same dictionary scheme as GIF but
    * MSB-first bit packing, fixed 8-bit symbols (Clear=256, EOI=257,
    * first entry 258, initial width 9), and the "early change" rule —
    * the code width grows when the next free entry reaches 2^width - 1,
    * one code earlier than GIF. Decodes one strip into out[outOff,
    * outOff+outLen); false on any malformation (truncation, code beyond
    * the next free slot, overrun).
    */
  private def tiffLzwStrip(b: Array[Byte], off: Int, len: Int,
      out: Array[Byte], outOff: Int, outLen: Int): Boolean = {
    val Clear = 256
    val End = 257
    var codeSize = 9
    val prefix = new Array[Int](4096)
    val suffix = new Array[Byte](4096)
    var next = 258
    var outPos = outOff
    val outEnd = outOff + outLen
    var bitPos = 0
    val totalBits = len * 8
    val stack = new Array[Byte](4097)
    var prev = -1
    while (outPos < outEnd) {
      if (bitPos + codeSize > totalBits) return false
      var code = 0
      var i = 0
      while (i < codeSize) {
        val bp = bitPos + i
        code = (code << 1) | ((b(off + (bp >> 3)) >> (7 - (bp & 7))) & 1)
        i += 1
      }
      bitPos += codeSize
      if (code == Clear) {
        next = 258; codeSize = 9; prev = -1
      } else if (code == End) {
        return false // EOI before the strip's pixels are complete
      } else if (prev < 0) {
        if (code >= Clear) return false // first code after clear: literal
        out(outPos) = code.toByte; outPos += 1
        prev = code
      } else {
        if (code > next) return false
        // expand; KwKwK when code == next (see the GIF twin)
        var sp = 0
        var c = if (code == next) prev else code
        while (c >= 258) { stack(sp) = suffix(c); sp += 1; c = prefix(c) }
        val first = c.toByte
        stack(sp) = first; sp += 1
        if (outPos + sp + (if (code == next) 1 else 0) > outEnd) return false
        var k = sp - 1
        while (k >= 0) { out(outPos) = stack(k); outPos += 1; k -= 1 }
        if (code == next) { out(outPos) = first; outPos += 1 }
        if (next < 4096) {
          prefix(next) = prev
          suffix(next) = first
          next += 1
          if (next == (1 << codeSize) - 1 && codeSize < 12) codeSize += 1 // early change
        }
        prev = code
      }
    }
    true // strip complete; a trailing EOI code is permitted but not required
  }

  // ------------------------------------------------------------------
  // BMP
  // ------------------------------------------------------------------

  private val DibSizes = Set(40L, 52L, 56L, 64L, 108L, 124L)

  private def bmp(b: Array[Byte]): Option[Luma] = {
    if (b.length < 54) return None
    val dibSize = le32(b, 14)
    if (!DibSizes.contains(dibSize)) return None
    val w = le32(b, 18).toInt
    val hRaw = le32(b, 22).toInt
    val topDown = hRaw < 0
    val h = math.abs(hRaw)
    if (w <= 0 || h <= 0 || w > MergeSpec.MaxImageDim || h > MergeSpec.MaxImageDim)
      return None
    val bpp = le16(b, 28)
    val compression = le32(b, 30)
    if (compression != 0L) return None // BI_RGB only
    val dataOff = le32(b, 10)
    if (dataOff < 0 || dataOff > b.length) return None
    val bytesPerPx = bpp match {
      case 8 => 1; case 24 => 3; case 32 => 4
      case _ => return None
    }
    val stride = (w * bytesPerPx + 3) & ~3
    if (dataOff + stride.toLong * h > b.length) return None
    // 8-bpp: BGRA palette right after the DIB header
    var palette: Array[Byte] = null
    if (bpp == 8) {
      val colorsUsed = le32(b, 46)
      val n = if (colorsUsed > 0 && colorsUsed <= 256) colorsUsed.toInt else 256
      val po = 14 + dibSize.toInt
      if (po + n * 4 > b.length) return None
      palette = java.util.Arrays.copyOfRange(b, po, po + n * 4)
    }
    val off = dataOff.toInt
    val out = new Array[Byte](w * h)
    var y = 0
    while (y < h) {
      val srcRow = if (topDown) y else h - 1 - y
      val ro = off + srcRow * stride
      var x = 0
      while (x < w) {
        val p = ro + x * bytesPerPx
        val v = bpp match {
          case 8 =>
            val pi = u8(b, p) * 4
            if (pi + 2 >= palette.length) return None
            luma601(u8(palette, pi + 2), u8(palette, pi + 1), u8(palette, pi)) // BGRA
          case _ => luma601(u8(b, p + 2), u8(b, p + 1), u8(b, p)) // BGR(A)
        }
        out(y * w + x) = v.toByte
        x += 1
      }
      y += 1
    }
    Some(Luma(w, h, out))
  }
}
