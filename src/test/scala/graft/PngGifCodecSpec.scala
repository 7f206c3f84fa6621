package graft.multimodal

import org.scalatest.funsuite.AnyFunSuite
import graft.multimodal.Multimodal.{Gif, Png}

/** The lock-free PNG/GIF fast paths (r18 — the WavCodecSpec pattern):
  * `javax.imageio`'s provider registry takes a global lock per call,
  * which serializes concurrent decode tasks on any multi-core executor;
  * the byte-arithmetic fast paths must be BIT-IDENTICAL to the javax
  * readers, because every perceptual hash (dHash64 / tHash64) and
  * md5-pinned multimodal oracle downstream depends on exact pixel
  * values. Identity is asserted per-pixel through getRGB — the only
  * pixel accessor any consumer uses — across the fixture generators'
  * shapes; payloads outside the fast-path contract must fall back (null
  * from the fast parser, loud failure preserved end-to-end). */
class PngGifCodecSpec extends AnyFunSuite {

  private def javaxPng(bytes: Array[Byte]) = {
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(bytes))
    assert(img != null, "javax could not decode the reference payload")
    img
  }

  private def assertSameImage(a: java.awt.image.BufferedImage,
      b: java.awt.image.BufferedImage, what: String): Unit = {
    assert(a.getWidth == b.getWidth && a.getHeight == b.getHeight,
      s"$what: dimensions differ")
    var y = 0
    while (y < a.getHeight) {
      var x = 0
      while (x < a.getWidth) {
        assert(a.getRGB(x, y) == b.getRGB(x, y),
          s"$what: pixel ($x,$y) differs")
        x += 1
      }
      y += 1
    }
  }

  test("PNG fast path decodes ImageIO-encoded RGB bit-identically") {
    for ((id, w, h) <- Seq((1L, 64, 48), (7L, 72, 64), (13L, 1, 1),
        (99L, 33, 7))) {
      val bytes = Png.encode(Png.pattern(id, w, h))
      val fast = Png.decodeRgb8(bytes)
      assert(fast != null, s"fast path refused id=$id ($w x $h)")
      assertSameImage(fast, javaxPng(bytes), s"png id=$id")
    }
    // the grouped near-dup fixture family (grayscale-in-RGB cells)
    for (v <- 0 to 3) {
      val bytes = Png.encode(Png.groupedPattern(5L, v))
      assertSameImage(Png.decodeRgb8(bytes), javaxPng(bytes), s"grouped v=$v")
    }
  }

  test("PNG consumers (decode → dHash64/features) are unchanged") {
    val bytes = Png.encode(Png.groupedPattern(11L, 2))
    // decode() routes through the fast path; the javax reference runs
    // the identical downstream math over the javax-decoded image
    val viaFast = Png.dHash64(bytes)
    val ref = {
      val img = javaxPng(bytes)
      val reEnc = Png.encode {
        val c = new java.awt.image.BufferedImage(img.getWidth,
          img.getHeight, java.awt.image.BufferedImage.TYPE_INT_RGB)
        var y = 0
        while (y < img.getHeight) {
          var x = 0
          while (x < img.getWidth) { c.setRGB(x, y, img.getRGB(x, y)); x += 1 }
          y += 1
        }
        c
      }
      Png.dHash64(reEnc)
    }
    assert(viaFast == ref)
  }

  test("PNG fast path rejects non-fast payloads (fallback contract)") {
    assert(Png.decodeRgb8("not a png".getBytes) == null)
    assert(Png.decodeRgb8(Array.emptyByteArray) == null)
    // a truncated PNG must return null (→ javax → loud failure), never
    // throw from the fast parser
    val good = Png.encode(Png.pattern(3L, 16, 16))
    assert(Png.decodeRgb8(good.take(40)) == null)
    // crafted chunk length near 2^31 must not index out of bounds
    val crafted = good.clone()
    crafted(8) = 0x7F.toByte; crafted(9) = 0xFF.toByte
    crafted(10) = 0xFF.toByte; crafted(11) = 0xF0.toByte
    assert(Png.decodeRgb8(crafted) == null)
    intercept[IllegalArgumentException](Png.decode("junk".getBytes))
  }

  /** A PNG's chunks (length + type + data + CRC each) and back. */
  private def pngChunks(png: Array[Byte]): Seq[Array[Byte]] = {
    val out = Seq.newBuilder[Array[Byte]]
    var off = 8
    while (off < png.length) {
      val len = java.nio.ByteBuffer.wrap(png, off, 4).getInt
      out += png.slice(off, off + 12 + len)
      off += 12 + len
    }
    out.result()
  }
  private def chunkType(c: Array[Byte]) = new String(c, 4, 4, "US-ASCII")
  private def pngOf(sig: Array[Byte], cs: Seq[Array[Byte]]) =
    sig.take(8) ++ cs.flatten

  test("PNG fast path requires IHDR first, once, before any IDAT") {
    val good = Png.encode(Png.pattern(5L, 12, 9))
    val cs = pngChunks(good)
    assert(chunkType(cs.head) == "IHDR" && Png.decodeRgb8(good) != null)
    val ihdr = cs.head
    val idatAt = cs.indexWhere(c => chunkType(c) == "IDAT")
    // IHDR moved after the first IDAT
    val moved = cs.tail.patch(idatAt, Seq(ihdr), 0)
    assert(Png.decodeRgb8(pngOf(good, moved)) == null, "IDAT before IHDR")
    // a second IHDR declaring other dimensions (9 x 12)
    val swapped = ihdr.clone()
    System.arraycopy(ihdr, 12, swapped, 8, 4)
    System.arraycopy(ihdr, 8, swapped, 12, 4)
    assert(Png.decodeRgb8(pngOf(good, ihdr +: swapped +: cs.tail)) == null,
      "duplicate IHDR")
    // even a verbatim repeat is rejected
    assert(Png.decodeRgb8(pngOf(good, ihdr +: cs)) == null)
    // an ancillary chunk ahead of IHDR
    val text = Array[Byte](0, 0, 0, 1) ++ "tEXt".getBytes("US-ASCII") ++
      Array[Byte](0x41, 0, 0, 0, 0)
    assert(Png.decodeRgb8(pngOf(good, text +: cs)) == null, "IHDR not first")
  }

  test("GIF fast path rejects a palette index beyond the color table") {
    // 1 x 1 GIF89a, 2-entry global table; LZW (min code size 2) codes
    // clear(4) then `index`, packed LSB-first at 3 bits
    def gif(index: Int): Array[Byte] = {
      val bits = 4 | (index << 3) | (5 << 6)
      (Seq(0x47, 0x49, 0x46, 0x38, 0x39, 0x61, 1, 0, 1, 0, 0x80, 0, 0,
        0, 0, 0, 0xFF, 0xFF, 0xFF,
        0x2C, 0, 0, 0, 0, 1, 0, 1, 0, 0,
        2, 2, bits & 0xFF, bits >> 8, 0, 0x3B)).map(_.toByte).toArray
    }
    val ok = Gif.decodeFramesFast(gif(1))
    assert(ok != null && ok.size == 1 && ok.head.getRGB(0, 0) == 0xFFFFFFFF)
    // index 3 ≥ 2 entries: fall back to javax, not an image whose
    // getRGB throws downstream
    assert(Gif.decodeFramesFast(gif(3)) == null)
  }

  test("GIF fast path decodes ImageIO-encoded frames bit-identically") {
    for ((id, w, h, n) <- Seq((2L, 32, 24, 4), (9L, 8, 8, 12),
        (4L, 16, 9, 1))) {
      val bytes = Gif.pattern(id, w, h, n)
      val fast = Gif.decodeFramesFast(bytes)
      assert(fast != null, s"fast path refused id=$id")
      val reader = javax.imageio.ImageIO.getImageReadersByFormatName("gif")
        .next()
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(bytes))
      try {
        reader.setInput(iis, false)
        val ref = (0 until reader.getNumImages(true)).map(reader.read)
        assert(fast.size == ref.size, s"gif id=$id: frame count differs")
        fast.zip(ref).zipWithIndex.foreach { case ((f, r), i) =>
          assertSameImage(f, r, s"gif id=$id frame $i")
        }
      } finally { reader.dispose(); iis.close() }
    }
    // the grouped temporal near-dup family (65 uniform frames)
    val grouped = Gif.groupedFrames(6L, 3)
    assert(Gif.decodeFramesFast(grouped) != null)
  }

  test("GIF consumers (tHash64/durationMs/sampleFrames) are unchanged") {
    val bytes = Gif.groupedFrames(8L, 2)
    // closed-form expectation: bit j = [lum(frame j) > lum(frame j+1)]
    // from the same md5 bytes the generator used
    val flipped = (0 until 2).map(k =>
      Png.md5Byte(s"8:vflip:$k") % 65).toSet
    val lum = (0 until 65).map { j =>
      val l0 = Png.md5Byte(s"8:frm:$j")
      if (flipped(j)) 255 - l0 else l0
    }
    var expect = 0L
    for (f <- 0 until 64 if lum(f) > lum(f + 1)) expect |= 1L << f
    assert(Gif.tHash64(bytes) == expect)
    assert(Gif.durationMs(bytes) == 65 * Gif.FrameDelayMs)
    assert(Gif.sampleFrames(bytes, 3).size == 3)
  }

  test("GIF fast path rejects non-fast payloads (fallback contract)") {
    assert(Gif.decodeFramesFast("not a gif".getBytes) == null)
    val good = Gif.pattern(1L, 8, 8, 2)
    assert(Gif.decodeFramesFast(good.take(20)) == null)
    // garbage must still fail LOUDLY end-to-end (the javax fallback
    // throws IIOException from the reader — same as before the fast
    // path existed; the contract is loud failure, not a specific type)
    intercept[Exception](Gif.frames("junk".getBytes))
  }
}
