package graft.api

import org.scalatest.funsuite.AnyFunSuite
import java.awt.image.BufferedImage
import javax.imageio.ImageIO

/** Byte-level validation of the REAL image codec against the JDK's own
  * ImageIO as ground truth: our encoder's output must decode identically
  * in a standards PNG reader, and standards-produced payloads (PNG,
  * JPEG, GIF, BMP from ImageIO) must parse correctly in our decoder —
  * the two directions that pin spec conformance, not just internal
  * round-trip consistency.
  */
class ImageCodecSpec extends AnyFunSuite {

  private def pix(id: Long, w: Int, h: Int): Array[Int] =
    Array.tabulate(w * h) { k =>
      val i = k / w; val j = k % w
      ((id * 31 + i * 7 + j * 13) % 256).toInt
    }

  test("encodePngGray round-trips through our own full decoder (all five filter types)") {
    // h ≥ 6 guarantees every filter type 0–4 is exercised (row % 5)
    for ((w, h) <- Seq((1, 1), (3, 7), (32, 18), (17, 6))) {
      val px = pix(w * 1000L + h, w, h)
      val bytes = ImageCodec.encodePngGray(w, h, px)
      val Some((dw, dh, out)) = ImageCodec.decodePngGray(bytes)
      assert((dw, dh) == (w, h))
      assert(out.sameElements(px), s"pixel mismatch at ${w}x$h")
    }
  }

  test("encodePngGray output is a standards PNG: ImageIO decodes identical pixels") {
    val (w, h) = (19, 11)
    val px = pix(42L, w, h)
    val bytes = ImageCodec.encodePngGray(w, h, px)
    val img = ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    assert(img != null, "ImageIO rejected our PNG")
    assert(img.getWidth == w && img.getHeight == h)
    for (y <- 0 until h; x <- 0 until w) {
      val gray = img.getRaster.getSample(x, y, 0)
      assert(gray == px(y * w + x), s"ImageIO pixel ($x,$y): $gray != ${px(y * w + x)}")
    }
  }

  test("ImageIO-produced PNG decodes through our full decoder") {
    val (w, h) = (23, 9)
    val img = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_GRAY)
    val px = pix(7L, w, h)
    for (y <- 0 until h; x <- 0 until w) img.getRaster.setSample(x, y, 0, px(y * w + x))
    val bos = new java.io.ByteArrayOutputStream()
    ImageIO.write(img, "png", bos)
    val bytes = bos.toByteArray
    val meta = ImageCodec.decodeMeta(bytes).get
    assert(meta == ImageCodec.ImageMeta("png", w.toLong, h.toLong, 8L, 1L))
    val Some((dw, dh, out)) = ImageCodec.decodePngGray(bytes)
    assert((dw, dh) == (w, h) && out.sameElements(px),
      "our decoder mis-read an ImageIO-written PNG")
  }

  test("decodeMeta parses ImageIO-produced JPEG / GIF / BMP headers") {
    val (w, h) = (37, 21)
    def bytesOf(fmt: String, imgType: Int): Array[Byte] = {
      val img = new BufferedImage(w, h, imgType)
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, (x * 7 + y * 13) << 8)
      val bos = new java.io.ByteArrayOutputStream()
      assert(ImageIO.write(img, fmt, bos), s"ImageIO cannot write $fmt")
      bos.toByteArray
    }
    val jpeg = ImageCodec.decodeMeta(bytesOf("jpg", BufferedImage.TYPE_3BYTE_BGR)).get
    assert(jpeg.format == "jpeg" && jpeg.width == w && jpeg.height == h
      && jpeg.bitDepth == 8 && jpeg.channels == 3, jpeg.toString)
    val gif = ImageCodec.decodeMeta(bytesOf("gif", BufferedImage.TYPE_3BYTE_BGR)).get
    assert(gif.format == "gif" && gif.width == w && gif.height == h, gif.toString)
    val bmp = ImageCodec.decodeMeta(bytesOf("bmp", BufferedImage.TYPE_3BYTE_BGR)).get
    assert(bmp.format == "bmp" && bmp.width == w && bmp.height == h
      && bmp.bitDepth == 24, bmp.toString)
  }

  test("JPEG marker scan tolerates 0xFF fill bytes and standalone TEM (0x01)") {
    // spec-valid JPEG: SOI, fill bytes before APP0, TEM, fill before SOF0
    def u16(v: Int) = Array[Byte](((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    val app0 = Array[Byte](0xff.toByte, 0xe0.toByte) ++ u16(4) ++ Array[Byte](0, 0)
    val sof0 = Array[Byte](0xff.toByte, 0xc0.toByte) ++ u16(11) ++
      Array[Byte](8) ++ u16(21) ++ u16(37) ++
      Array[Byte](1, 0x11, 0x11, 0) // 1 component
    val payload = Array[Byte](0xff.toByte, 0xd8.toByte) ++ // SOI
      Array[Byte](0xff.toByte) ++ // fill byte before APP0's own 0xFF
      app0 ++
      Array[Byte](0xff.toByte, 0x01.toByte) ++ // standalone TEM
      Array[Byte](0xff.toByte, 0xff.toByte) ++ // two fills before SOF0's 0xFF
      sof0 ++ Array[Byte](0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
    val m = ImageCodec.decodeMeta(payload).get
    assert(m == ImageCodec.ImageMeta("jpeg", 37L, 21L, 8L, 1L), m.toString)
  }

  test("zlib stream with FDICT set returns None instead of spinning forever") {
    // forge the IDAT zlib header of a valid PNG to set the FDICT bit
    // (0x20 in FLG) — inflate() then returns 0 with needsDictionary()
    // and neither finished() nor needsInput(); decode must bail, not hang
    val good = ImageCodec.encodePngGray(4, 4, pix(3L, 4, 4))
    // locate the IDAT chunk; its first 2 payload bytes are CMF/FLG
    var i = 8; var idatOff = -1
    while (idatOff < 0 && i + 8 <= good.length) {
      val len = ((good(i) & 0xff) << 24) | ((good(i + 1) & 0xff) << 16) |
        ((good(i + 2) & 0xff) << 8) | (good(i + 3) & 0xff)
      if (new String(good.slice(i + 4, i + 8), "US-ASCII") == "IDAT") idatOff = i + 8
      i += 12 + len
    }
    assert(idatOff > 0, "no IDAT found in encoder output")
    val forged = good.clone()
    val cmf = forged(idatOff) & 0xff
    var flg = (forged(idatOff + 1) & 0xff) | 0x20 // set FDICT
    flg = (flg & 0xe0) | ((31 - (cmf * 256 + (flg & 0xe0)) % 31) % 31) // fix FCHECK
    forged(idatOff + 1) = flg.toByte
    val fut = scala.concurrent.Future(ImageCodec.decodePngGray(forged))(
      scala.concurrent.ExecutionContext.global)
    val res = scala.concurrent.Await.result(fut, scala.concurrent.duration.Duration(10, "s"))
    assert(res.isEmpty, "FDICT stream must return None")
  }

  test("corrupt / truncated / foreign payloads return None, never throw") {
    val good = ImageCodec.encodePngGray(5, 5, pix(1L, 5, 5))
    assert(ImageCodec.decodeMeta(Array.emptyByteArray).isEmpty)
    assert(ImageCodec.decodeMeta("not an image at all".getBytes).isEmpty)
    assert(ImageCodec.decodeMeta(good.take(10)).isEmpty) // truncated before IHDR
    assert(ImageCodec.decodePngGray(good.take(40)).isEmpty) // truncated IDAT
    // bit-flip inside the IDAT zlib stream → DataFormatException path
    val flipped = good.clone()
    flipped(flipped.length - 20) = (flipped(flipped.length - 20) ^ 0x55).toByte
    assert(ImageCodec.decodePngGray(flipped).isEmpty
      || ImageCodec.decodePngGray(flipped).isDefined) // must not throw either way
    // a chunk whose forged length is near Int.MaxValue must not wrap past
    // the bounds check (IHDR ends at byte 33)
    val gray3 = ImageCodec.encodePngGray(3, 3, pix(4L, 3, 3))
    val bigChunk = gray3.take(33) ++ java.nio.ByteBuffer.allocate(4).putInt(0x7ffffff0).array() ++
      "junk".getBytes("US-ASCII") ++ gray3.drop(33)
    assert(ImageCodec.decodePngGray(bigChunk).isEmpty)
    assert(ImageCodec.decodePngColor(bigChunk).isEmpty)
  }

  test("adversarial header dims are rejected before allocation (no executor OOM)") {
    // forge the IHDR of a tiny valid PNG to claim 2^15 × 2^15 pixels —
    // decode must return None WITHOUT attempting the ~1 GiB raw buffer
    val good = ImageCodec.encodePngGray(4, 4, pix(2L, 4, 4))
    val forged = good.clone()
    def putBe32(off: Int, v: Int): Unit = {
      forged(off) = (v >>> 24).toByte; forged(off + 1) = (v >>> 16).toByte
      forged(off + 2) = (v >>> 8).toByte; forged(off + 3) = v.toByte
    }
    putBe32(16, 32768); putBe32(20, 32768) // IHDR width/height
    assert(ImageCodec.decodePngGray(forged).isEmpty,
      "giant claimed dims must be rejected up front")
    // the meta parse itself still reports what the header SAYS — the
    // bound is a decode-allocation guard, not a metadata lie-detector
    assert(ImageCodec.decodeMeta(forged).exists(_.width == 32768L))
  }

  test("encodeBmpGray round-trips through our own decoder (stride padding, bottom-up)") {
    // widths chosen to hit every stride-padding class (w % 4 = 0..3)
    for ((w, h) <- Seq((1, 1), (4, 3), (5, 7), (6, 2), (7, 9), (32, 18))) {
      val px = pix(w * 100L + h, w, h)
      val bytes = ImageCodec.encodeBmpGray(w, h, px)
      val Some((dw, dh, out)) = ImageCodec.decodeBmpGray(bytes)
      assert((dw, dh) == (w, h))
      assert(out.sameElements(px), s"BMP pixel mismatch at ${w}x$h")
    }
  }

  test("encodeBmpGray output is a standards BMP: ImageIO decodes identical pixels") {
    val (w, h) = (21, 13)
    val px = pix(99L, w, h)
    val img = ImageIO.read(new java.io.ByteArrayInputStream(ImageCodec.encodeBmpGray(w, h, px)))
    assert(img != null, "ImageIO rejected our BMP")
    assert(img.getWidth == w && img.getHeight == h)
    // read RAW samples: getRGB on a gray image goes through ICC gray→sRGB
    // conversion (253 → 254), which would test the JDK's color engine,
    // not our bytes; on the identity-gray palette index == gray value
    assert(img.getRaster.getNumBands == 1, s"expected indexed/gray raster")
    for (y <- 0 until h; x <- 0 until w) {
      val v = img.getRaster.getSample(x, y, 0)
      assert(v == px(y * w + x), s"ImageIO BMP pixel ($x,$y): $v != ${px(y * w + x)}")
    }
  }

  test("ImageIO-produced BMP decodes through our full decoder") {
    val (w, h) = (18, 11)
    val px = pix(55L, w, h)
    val img = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until h; x <- 0 until w) img.getRaster.setSample(x, y, 0, px(y * w + x))
    val bos = new java.io.ByteArrayOutputStream()
    assert(ImageIO.write(img, "bmp", bos), "ImageIO cannot write bmp")
    val Some((dw, dh, out)) = ImageCodec.decodeBmpGray(bos.toByteArray)
    assert((dw, dh) == (w, h) && out.sameElements(px),
      "our decoder mis-read an ImageIO-written BMP")
  }

  test("encodeGifGray round-trips through our own LZW decoder (code-width growth + table-full clear)") {
    // 200x120 = 24k px of high-entropy pattern: the LZW table crosses the
    // 512/1024/2048 width boundaries AND fills to 4096 (clear-reset path);
    // small shapes cover the trivial end
    for ((w, h) <- Seq((1, 1), (3, 2), (19, 11), (64, 64), (200, 120))) {
      val px = Array.tabulate(w * h) { k =>
        val i = k / w; val j = k % w
        ((i * 7919 + j * 104729 + i * j * 31) % 256).toInt
      }
      val bytes = ImageCodec.encodeGifGray(w, h, px)
      val Some((dw, dh, out)) = ImageCodec.decodeGifGray(bytes)
      assert((dw, dh) == (w, h))
      assert(out.sameElements(px), s"GIF pixel mismatch at ${w}x$h")
    }
  }

  test("encodeGifGray output is a standards GIF: ImageIO decodes identical pixels") {
    // big enough to cross several LZW width boundaries in a foreign reader
    val (w, h) = (150, 90)
    val px = Array.tabulate(w * h) { k =>
      val i = k / w; val j = k % w
      ((i * 131 + j * 31 + i * j) % 256).toInt
    }
    val img = ImageIO.read(new java.io.ByteArrayInputStream(ImageCodec.encodeGifGray(w, h, px)))
    assert(img != null, "ImageIO rejected our GIF")
    assert(img.getWidth == w && img.getHeight == h)
    for (y <- 0 until h; x <- 0 until w) {
      val rgb = img.getRGB(x, y)
      val (r, g, b) = ((rgb >> 16) & 0xff, (rgb >> 8) & 0xff, rgb & 0xff)
      assert(r == g && g == b && r == px(y * w + x),
        s"ImageIO GIF pixel ($x,$y): ($r,$g,$b) != ${px(y * w + x)}")
    }
  }

  test("ImageIO-produced GIF decodes through our full decoder") {
    val (w, h) = (47, 29)
    val px = pix(77L, w, h)
    val img = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until h; x <- 0 until w) img.getRaster.setSample(x, y, 0, px(y * w + x))
    val bos = new java.io.ByteArrayOutputStream()
    assert(ImageIO.write(img, "gif", bos), "ImageIO cannot write gif")
    val Some((dw, dh, out)) = ImageCodec.decodeGifGray(bos.toByteArray)
    assert((dw, dh) == (w, h) && out.sameElements(px),
      "our decoder mis-read an ImageIO-written GIF (89a extensions, its own LZW)")
  }

  test("GIF/BMP corrupt and non-gray payloads return None, never throw") {
    val px = pix(8L, 9, 6)
    val gif = ImageCodec.encodeGifGray(9, 6, px)
    val bmp = ImageCodec.encodeBmpGray(9, 6, px)
    assert(ImageCodec.decodeGifGray(gif.take(20)).isEmpty)   // truncated mid-table
    assert(ImageCodec.decodeGifGray(gif.dropRight(6)).isEmpty) // truncated LZW stream
    assert(ImageCodec.decodeBmpGray(bmp.take(40)).isEmpty)   // truncated header
    assert(ImageCodec.decodeBmpGray(gif).isEmpty)            // wrong container
    // forged header offsets and counts must not wrap past the bounds checks
    def forgedBmp(off: Int, v: Int): Array[Byte] = {
      val b = bmp.clone()
      java.nio.ByteBuffer.wrap(b, off, 4).order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(v)
      b
    }
    assert(ImageCodec.decodeBmpGray(forgedBmp(10, Int.MinValue)).isEmpty) // pixel-data offset
    assert(ImageCodec.decodeBmpGray(forgedBmp(14, 0x7ffffff0)).isEmpty)   // header size
    assert(ImageCodec.decodeBmpGray(forgedBmp(46, -1)).isEmpty)           // palette colors
    assert(ImageCodec.decodeGifGray(bmp).isEmpty)
    // non-gray palette: a color image must refuse the gray decode
    val colorGif = {
      val img = new BufferedImage(8, 8, BufferedImage.TYPE_3BYTE_BGR)
      for (y <- 0 until 8; x <- 0 until 8) img.setRGB(x, y, (x * 30) << 16 | (y * 30))
      val bos = new java.io.ByteArrayOutputStream()
      ImageIO.write(img, "gif", bos); bos.toByteArray
    }
    assert(ImageCodec.decodeGifGray(colorGif).isEmpty, "non-gray palette must return None")
    // adversarial dims: forge the image descriptor to claim 2^15 x 2^15
    val forged = gif.clone()
    // image descriptor follows 6+7+768 bytes (header+LSD+GCT): 0x2C at 781
    assert((forged(781) & 0xff) == 0x2c, "image descriptor offset drifted")
    forged(786) = 0; forged(787) = 0x80.toByte // w = 32768
    forged(788) = 0; forged(789) = 0x80.toByte // h = 32768
    assert(ImageCodec.decodeGifGray(forged).isEmpty,
      "giant claimed GIF dims must be rejected up front")
  }

  test("aHash64 is the integer mean threshold over the 8x8 resample") {
    // 8x8 identity case: bit j set iff 64*px(j) >= sum
    val px = Array.tabulate(64)(j => j * 4) // sum = 8064; threshold px >= 126
    val h = ImageCodec.aHash64(px, 8, 8)
    for (j <- 0 until 64) {
      val want = 64L * px(j) >= px.map(_.toLong).sum
      assert(((h >>> j) & 1L) == (if (want) 1L else 0L), s"bit $j wrong")
    }
    // scale invariance of the motif: the same pattern at 16x16 resamples
    // to the identical 8x8 grid → identical hash (the property that makes
    // aHash catch near-dups across image sizes)
    val big = Array.tabulate(16 * 16) { k =>
      val i = k / 16; val j = k % 16
      px((i / 2) * 8 + (j / 2))
    }
    assert(ImageCodec.aHash64(big, 16, 16) == h, "aHash must be resize-stable")
    // constant image: every pixel equals the mean → all 64 bits set
    assert(ImageCodec.aHash64(Array.fill(35)(7), 7, 5) == -1L)
  }

  test("resizeNearest uses floor(dst·src/dstDim) index mapping exactly") {
    val (w, h) = (4, 2)
    val px = Array(10, 20, 30, 40, 50, 60, 70, 80)
    val r = ImageCodec.resizeNearest(px, w, h, 2, 1)
    // x=0 → sx=0, x=1 → sx=2; y=0 → sy=0
    assert(r.sameElements(Array(10, 30)), r.mkString(","))
    val up = ImageCodec.resizeNearest(px, w, h, 8, 4)
    assert(up.length == 32 && up(0) == 10 && up(31) == 80)
  }

  // ----------------------------------------------------------- color PNG

  private def rgbPix(id: Long, w: Int, h: Int): Array[Int] =
    Array.tabulate(w * h) { k =>
      val i = k / w; val j = k % w
      val r = ((id * 19 + i * 7 + j * 3) % 256).toInt
      val g = ((id * 23 + i * 5 + j * 11) % 256).toInt
      val b = ((id * 29 + i * 13 + j * 17) % 256).toInt
      (r << 16) | (g << 8) | b
    }

  test("encodePngColor round-trips through decodePngColor (all five filters at bpp=3)") {
    for ((w, h, id) <- Seq((7, 9, 1L), (16, 16, 2L), (31, 3, 3L), (1, 12, 4L), (40, 25, 5L))) {
      val px = rgbPix(id, w, h)
      val bytes = ImageCodec.encodePngColor(w, h, px)
      val Some((dw, dh, out)) = ImageCodec.decodePngColor(bytes)
      assert((dw, dh) == (w, h), s"dims ${dw}x$dh != ${w}x$h")
      assert(out.sameElements(px), s"truecolor pixel mismatch at ${w}x$h id=$id")
      // the gray decoder correctly refuses a color payload
      assert(ImageCodec.decodePngGray(bytes).isEmpty)
      // meta reports type-2 layout
      val m = ImageCodec.decodeMeta(bytes).get
      assert(m == ImageCodec.ImageMeta("png", w.toLong, h.toLong, 8L, 3L), m.toString)
    }
  }

  test("encodePngColor output is a standards PNG: ImageIO decodes identical pixels") {
    val (w, h) = (23, 17)
    val px = rgbPix(7L, w, h)
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(ImageCodec.encodePngColor(w, h, px)))
    assert(img != null, "ImageIO could not read our color PNG")
    assert(img.getWidth == w && img.getHeight == h)
    for (y <- 0 until h; x <- 0 until w)
      assert((img.getRGB(x, y) & 0xffffff) == px(y * w + x), s"ImageIO differs at ($x,$y)")
  }

  test("ImageIO-produced truecolor PNG decodes through decodePngColor") {
    val (w, h) = (19, 21)
    val px = rgbPix(8L, w, h)
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, px(y * w + x))
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "png", bos))
    val Some((dw, dh, out)) = ImageCodec.decodePngColor(bos.toByteArray)
    assert((dw, dh) == (w, h))
    assert(out.sameElements(px), "foreign truecolor PNG mis-decoded")
  }

  test("encodePngPal round-trips: PLTE lookup after the bpp=1 unfilter") {
    for ((w, h, id) <- Seq((9, 6, 1L), (16, 11, 2L), (3, 30, 3L))) {
      val nPal = ((id % 15) + 2).toInt
      val pal = Array.tabulate(nPal) { n =>
        val r = ((n * 41 + id) % 256).toInt
        val g = ((n * 59 + id * 3) % 256).toInt
        val b = ((n * 83 + id * 7) % 256).toInt
        (r << 16) | (g << 8) | b
      }
      val idx = Array.tabulate(w * h)(k => ((id + k * 7) % nPal).toInt)
      val bytes = ImageCodec.encodePngPal(w, h, pal, idx)
      val Some((dw, dh, out)) = ImageCodec.decodePngColor(bytes)
      assert((dw, dh) == (w, h))
      assert(out.sameElements(idx.map(pal)), s"palette pixel mismatch id=$id")
      // indices are not gray levels: the gray decoder takes type 0 only
      assert(ImageCodec.decodePngGray(bytes).isEmpty)
      // ImageIO agrees on the palette-expanded pixels
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      assert(img != null, "ImageIO could not read our palette PNG")
      for (y <- 0 until h; x <- 0 until w)
        assert((img.getRGB(x, y) & 0xffffff) == pal(idx(y * w + x)), s"ImageIO differs at ($x,$y)")
    }
  }

  test("ImageIO-produced indexed PNG decodes through decodePngColor") {
    val (w, h) = (14, 10)
    // small fixed palette so ImageIO writes TYPE_BYTE_INDEXED as PNG type 3
    val colors = Array(0xff0000, 0x00ff00, 0x0000ff, 0x102030)
    val cm = new java.awt.image.IndexColorModel(8, colors.length,
      colors.map(c => ((c >> 16) & 0xff).toByte),
      colors.map(c => ((c >> 8) & 0xff).toByte),
      colors.map(c => (c & 0xff).toByte))
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, cm)
    for (y <- 0 until h; x <- 0 until w)
      img.getRaster.setSample(x, y, 0, (x + y) % colors.length)
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "png", bos))
    ImageCodec.decodePngColor(bos.toByteArray) match {
      case Some((dw, dh, out)) =>
        assert((dw, dh) == (w, h))
        for (y <- 0 until h; x <- 0 until w)
          assert(out(y * w + x) == colors((x + y) % colors.length), s"differs at ($x,$y)")
      case None => fail("foreign indexed PNG returned None")
    }
  }

  test("decodePngColor corrupt / unsupported payloads return None, never throw") {
    assert(ImageCodec.decodePngColor(Array.emptyByteArray).isEmpty)
    assert(ImageCodec.decodePngColor("nope".getBytes).isEmpty)
    // gray payloads belong to decodePngGray
    val gray = ImageCodec.encodePngGray(5, 5, Array.fill(25)(9))
    assert(ImageCodec.decodePngColor(gray).isEmpty)
    // truncated color stream
    val good = ImageCodec.encodePngColor(8, 8, rgbPix(1L, 8, 8))
    assert(ImageCodec.decodePngColor(good.dropRight(16)).isEmpty)
  }
}
