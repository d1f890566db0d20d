package graft.multimodal

import java.awt.Transparency
import java.awt.color.ColorSpace
import java.awt.image.{BufferedImage, ComponentColorModel, DataBuffer,
  DataBufferByte, IndexColorModel, Raster}
import java.util.zip.Inflater

/** In-JVM PNG decoder for the hot decode path: chunk walk +
  * [[Inflater]] + scanline unfilter, writing rows straight into the
  * SAME raster layout `javax.imageio`'s PNG reader produces (byte-
  * interleaved component rasters with ascending band offsets; an
  * [[IndexColorModel]] raster for palette images) — so every consumer
  * ([[Pixels.argbPlane]]/[[Pixels.lumaPlane]], the ImageIO PNG
  * re-encoder) sees bit-identical pixels AND bit-identical re-encoded
  * bytes. ImageIO's reader routes each image through its generic
  * per-band copy machinery (stream cache, per-row band de/re-muxing,
  * color-model dispatch); for the 8-bit non-interlaced shapes that
  * dominate any crawl the only real work is inflate + unfilter +
  * memcpy, which this does directly.
  *
  * FAST PATH ONLY — [[decode]] returns None (caller falls back to
  * ImageIO) for anything else: bit depths other than 8, Adam7
  * interlace, and any ancillary chunk outside the pixel-neutral
  * allowlist (so a gamma/ICC-carrying PNG keeps ImageIO's exact
  * treatment, whatever it is). A truncated/corrupt fast-path PNG
  * throws, like ImageIO would on a broken stream.
  *
  * PngDecodeSpec pins parity per color type: same pixels, same raster
  * shape, same re-encoded bytes as `ImageIO.read`.
  */
private[multimodal] object PngDecode {

  private val Sig =
    Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)

  def isPng(bytes: Array[Byte]): Boolean =
    bytes.length > 8 && {
      var i = 0
      while (i < 8 && bytes(i) == Sig(i)) i += 1
      i == 8
    }

  /** Ancillary chunks that cannot change decoded pixel values (text,
    * physical size, time, background hint, significant bits are
    * metadata-only in the ImageIO reader too). Color-management chunks
    * (gAMA/cHRM/sRGB/iCCP) are NOT listed: they divert to ImageIO so
    * the engine's treatment of them has a single owner. */
  private val NeutralChunks = Set("pHYs", "tEXt", "zTXt", "iTXt", "tIME",
    "bKGD", "sBIT")

  /** Decode an 8-bit non-interlaced PNG, or None to fall back. */
  def decode(bytes: Array[Byte]): Option[BufferedImage] = {
    if (!isPng(bytes)) return None
    var pos = 8
    def u32(p: Int): Long =
      ((bytes(p) & 0xffL) << 24) | ((bytes(p + 1) & 0xffL) << 16) |
        ((bytes(p + 2) & 0xffL) << 8) | (bytes(p + 3) & 0xffL)
    var width = 0
    var height = 0
    var colorType = -1
    var palette: Array[Byte] = null
    var trns: Array[Byte] = null
    val idat = new java.io.ByteArrayOutputStream()
    var sawEnd = false
    while (!sawEnd) {
      if (pos + 8 > bytes.length)
        throw new IllegalArgumentException("png: truncated chunk header")
      val len = u32(pos).toInt
      val typ = new String(bytes, pos + 4, 4, "US-ASCII")
      val dataAt = pos + 8
      if (len < 0 || dataAt + len + 4 > bytes.length)
        throw new IllegalArgumentException(s"png: truncated $typ chunk")
      typ match {
        case "IHDR" =>
          width = u32(dataAt).toInt
          height = u32(dataAt + 4).toInt
          val bitDepth = bytes(dataAt + 8) & 0xff
          colorType = bytes(dataAt + 9) & 0xff
          val interlace = bytes(dataAt + 12) & 0xff
          if (bitDepth != 8 || interlace != 0 ||
            (bytes(dataAt + 10) & 0xff) != 0 || (bytes(dataAt + 11) & 0xff) != 0 ||
            !Set(0, 2, 3, 4, 6).contains(colorType) ||
            width <= 0 || height <= 0) return None
        case "PLTE" =>
          palette = java.util.Arrays.copyOfRange(bytes, dataAt, dataAt + len)
        case "tRNS" =>
          // palette transparency is an IndexColorModel alpha column;
          // gray/truecolor tRNS changes the COLOR MODEL ImageIO builds —
          // fall back there
          if (colorType != 3) return None
          trns = java.util.Arrays.copyOfRange(bytes, dataAt, dataAt + len)
        case "IDAT" => idat.write(bytes, dataAt, len)
        case "IEND" => sawEnd = true
        case other if NeutralChunks.contains(other) => ()
        case _ => return None // unknown/color-managed chunk: ImageIO owns it
      }
      pos = dataAt + len + 4 // skip data + CRC
    }
    if (colorType < 0 || idat.size() == 0)
      throw new IllegalArgumentException("png: missing IHDR or IDAT")
    val channels = colorType match {
      case 0 => 1; case 2 => 3; case 3 => 1; case 4 => 2; case 6 => 4
    }
    if (colorType == 3 && palette == null)
      throw new IllegalArgumentException("png: palette image without PLTE")
    // IHDR dimensions are untrusted: size in Long, and leave anything
    // past one JVM array to ImageIO
    val rawLen = (width.toLong * channels + 1) * height
    if (rawLen > Int.MaxValue) return None
    val rowBytes = width * channels
    val raw = new Array[Byte](rawLen.toInt)
    val inf = new Inflater()
    var off = 0
    try {
      inf.setInput(idat.toByteArray)
      while (off < raw.length && !inf.finished()) {
        val n = inf.inflate(raw, off, raw.length - off)
        // no progress and not finished: out of input, or a stream that
        // wants a preset dictionary (FDICT, forbidden in PNG) — either
        // way it can never finish, so refuse instead of spinning
        if (n == 0 && !inf.finished())
          throw new IllegalArgumentException(
            if (inf.needsInput()) "png: truncated IDAT stream"
            else "png: IDAT stream cannot progress (preset dictionary?)")
        off += n
      }
    } finally inf.end()
    if (off != raw.length)
      throw new IllegalArgumentException(
        s"png: expected ${raw.length} filtered bytes, inflated $off")

    // image in the exact layout javax.imageio's PNG reader produces
    val img = colorType match {
      case 3 =>
        val n = palette.length / 3
        val r = new Array[Byte](n); val g = new Array[Byte](n)
        val b = new Array[Byte](n)
        var i = 0
        while (i < n) {
          r(i) = palette(3 * i); g(i) = palette(3 * i + 1)
          b(i) = palette(3 * i + 2); i += 1
        }
        val icm =
          if (trns == null) new IndexColorModel(8, n, r, g, b)
          else {
            val a = Array.fill[Byte](n)(-1)
            System.arraycopy(trns, 0, a, 0, math.min(trns.length, n))
            new IndexColorModel(8, n, r, g, b, a)
          }
        new BufferedImage(icm,
          Raster.createInterleavedRaster(DataBuffer.TYPE_BYTE, width,
            height, width, 1, Array(0), null), false, null)
      case ct =>
        val gray = ct == 0 || ct == 4
        val alpha = ct == 4 || ct == 6
        val cs = ColorSpace.getInstance(
          if (gray) ColorSpace.CS_GRAY else ColorSpace.CS_sRGB)
        val cm = new ComponentColorModel(cs, Array.fill(channels)(8),
          alpha, false,
          if (alpha) Transparency.TRANSLUCENT else Transparency.OPAQUE,
          DataBuffer.TYPE_BYTE)
        new BufferedImage(cm,
          Raster.createInterleavedRaster(DataBuffer.TYPE_BYTE, width,
            height, rowBytes, channels, Array.range(0, channels), null),
          false, null)
    }
    val out = img.getRaster.getDataBuffer.asInstanceOf[DataBufferByte]
      .getData

    // unfilter straight into the raster's backing array
    val bpp = channels // 8-bit: filter distance == channel count
    var y = 0
    while (y < height) {
      val src = y * (rowBytes + 1)
      val dst = y * rowBytes
      val prior = dst - rowBytes
      val filter = raw(src) & 0xff
      var x = 0
      filter match {
        case 0 =>
          System.arraycopy(raw, src + 1, out, dst, rowBytes)
        case 1 => // Sub
          while (x < rowBytes) {
            val left = if (x >= bpp) out(dst + x - bpp) & 0xff else 0
            out(dst + x) = ((raw(src + 1 + x) & 0xff) + left).toByte
            x += 1
          }
        case 2 => // Up
          while (x < rowBytes) {
            val up = if (y > 0) out(prior + x) & 0xff else 0
            out(dst + x) = ((raw(src + 1 + x) & 0xff) + up).toByte
            x += 1
          }
        case 3 => // Average
          while (x < rowBytes) {
            val left = if (x >= bpp) out(dst + x - bpp) & 0xff else 0
            val up = if (y > 0) out(prior + x) & 0xff else 0
            out(dst + x) =
              ((raw(src + 1 + x) & 0xff) + ((left + up) >> 1)).toByte
            x += 1
          }
        case 4 => // Paeth
          while (x < rowBytes) {
            val left = if (x >= bpp) out(dst + x - bpp) & 0xff else 0
            val up = if (y > 0) out(prior + x) & 0xff else 0
            val ul = if (y > 0 && x >= bpp) out(prior + x - bpp) & 0xff else 0
            val p = left + up - ul
            val pa = math.abs(p - left)
            val pb = math.abs(p - up)
            val pc = math.abs(p - ul)
            val pred =
              if (pa <= pb && pa <= pc) left else if (pb <= pc) up else ul
            out(dst + x) = ((raw(src + 1 + x) & 0xff) + pred).toByte
            x += 1
          }
        case other =>
          throw new IllegalArgumentException(s"png: bad filter $other")
      }
      y += 1
    }
    Some(img)
  }
}
