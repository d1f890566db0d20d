package graft.multimodal

import java.awt.image.BufferedImage

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import org.scalatest.funsuite.AnyFunSuite

/** [[PngDecode]] on hostile bytes built from a VALID fast-path PNG: a
  * zlib stream that asks for a preset dictionary must throw (never spin
  * the decode task), and IHDR dimensions whose byte sizes overflow an
  * Int must fall back to ImageIO (None) instead of sizing the inflate
  * buffer from a wrapped product. */
class PngDecodeHostileSpec extends AnyFunSuite {

  private def png(img: BufferedImage): Array[Byte] = {
    val baos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "png", baos))
    baos.toByteArray
  }

  private def u32(b: Array[Byte], p: Int): Int =
    ((b(p) & 0xff) << 24) | ((b(p + 1) & 0xff) << 16) |
      ((b(p + 2) & 0xff) << 8) | (b(p + 3) & 0xff)

  private def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
    val out = java.nio.ByteBuffer.allocate(12 + data.length)
    val td = typ.getBytes("US-ASCII") ++ data
    val crc = new java.util.zip.CRC32()
    crc.update(td)
    out.putInt(data.length).put(td).putInt(crc.getValue.toInt)
    out.array()
  }

  /** Rewrite every chunk of type `typ` through `f`, CRCs recomputed. */
  private def patch(bytes: Array[Byte], typ: String)(
      f: Array[Byte] => Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(bytes, 0, 8)
    var pos = 8
    while (pos < bytes.length) {
      val len = u32(bytes, pos)
      val t = new String(bytes, pos + 4, 4, "US-ASCII")
      val data = java.util.Arrays.copyOfRange(bytes, pos + 8, pos + 8 + len)
      out.write(chunk(t, if (t == typ) f(data) else data))
      pos += 12 + len
    }
    out.toByteArray
  }

  private def rgb(w: Int, h: Int): BufferedImage = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, x * 31 + y * 977)
    img
  }

  test("an IDAT zlib stream with FDICT set throws instead of spinning") {
    val valid = png(rgb(8, 8))
    assert(PngDecode.decode(valid).isDefined, "fixture must take the fast path")
    // set FDICT in the zlib FLG byte (FCHECK re-balanced so the header
    // stays well-formed) and insert the 4-byte DICTID it announces
    val hostile = patch(valid, "IDAT") { d =>
      val cmf = d(0) & 0xff
      val flg0 = (d(1) & 0xc0) | 0x20
      val flg = flg0 + (31 - (cmf * 256 + flg0) % 31) % 31
      Array[Byte](d(0), flg.toByte, 0, 0, 0, 1) ++ d.drop(2)
    }
    val decode = Future(scala.util.Try(PngDecode.decode(hostile)))
    val outcome = Await.result(decode, 30.seconds)
    assert(outcome.isFailure, s"decoded a dictionary stream: $outcome")
    assert(outcome.failed.get.isInstanceOf[IllegalArgumentException],
      outcome.failed.get.toString)
  }

  test("IHDR sizes past Int range fall back to ImageIO") {
    val gray = new BufferedImage(1, 1, BufferedImage.TYPE_BYTE_GRAY)
    val valid = png(gray)
    assert(PngDecode.decode(valid).isDefined, "fixture must take the fast path")
    def withDims(w: Int, h: Int) = patch(valid, "IHDR") { d =>
      val b = d.clone()
      java.nio.ByteBuffer.wrap(b).putInt(0, w).putInt(4, h)
      b
    }
    // (65536 + 1) * 65536 wraps to 65536 in Int: a mis-sized buffer
    assert(PngDecode.decode(withDims(65536, 65536)).isEmpty)
    // (Int.MaxValue + 1) * 1 wraps negative
    assert(PngDecode.decode(withDims(Int.MaxValue, 1)).isEmpty)
  }
}
