package graft.api

import org.scalatest.funsuite.AnyFunSuite
import java.awt.image.BufferedImage
import javax.imageio.ImageIO

/** Byte-level validation of the baseline JPEG codec against the JDK's
  * ImageIO as ground truth — the [[ImageCodecSpec]] discipline applied
  * to the last real-decode format.
  */
class JpegCodecSpec extends AnyFunSuite {

  /** Deterministic flat-block image: every 8×8 block constant —
    * the DC-only class whose JPEG round trip is bit-exact at quant=1
    * (the q_image_decode_jpeg fixture formula). */
  private def flatBlocks(id: Long, w: Int, h: Int): Array[Int] =
    Array.tabulate(w * h) { k =>
      val bx = (k % w) / 8; val by = (k / w) / 8
      ((id * 37 + by * 11 + bx * 5) % 256).toInt
    }

  private def gradient(w: Int, h: Int): Array[Int] =
    Array.tabulate(w * h)(k => ((k % w) * 3 + (k / w) * 7) % 256)

  test("flat-block images round-trip bit-exactly at quant=1 (the oracle class)") {
    for ((w, h, id) <- Seq((16, 16, 1L), (24, 8, 2L), (17, 13, 3L), (8, 8, 4L), (33, 9, 5L))) {
      val px = flatBlocks(id, w, h)
      val bytes = JpegCodec.encodeJpegGray(w, h, px, quant = 1)
      val Some((dw, dh, out)) = JpegCodec.decodeJpegGray(bytes)
      assert((dw, dh) == (w, h), s"dims ${dw}x$dh != ${w}x$h")
      assert(out.sameElements(px), s"pixel mismatch at ${w}x$h id=$id")
    }
  }

  test("our encoder output is a standards JPEG: ImageIO decodes the same flat blocks") {
    val (w, h) = (24, 16)
    val px = flatBlocks(9L, w, h)
    val bytes = JpegCodec.encodeJpegGray(w, h, px, quant = 1)
    val img = ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    assert(img != null, "ImageIO could not read our JPEG")
    assert(img.getWidth == w && img.getHeight == h)
    // DC-only blocks decode to exact constants in ANY compliant decoder
    for (y <- 0 until h; x <- 0 until w) {
      val got = img.getRaster.getSample(x, y, 0)
      assert(got == px(y * w + x), s"ImageIO differs at ($x,$y): $got vs ${px(y * w + x)}")
    }
    // and the existing header scanner agrees on the metadata
    val m = ImageCodec.decodeMeta(bytes).get
    assert(m == ImageCodec.ImageMeta("jpeg", w.toLong, h.toLong, 8L, 1L), m.toString)
  }

  test("non-flat content round-trips through our encoder+decoder within JPEG loss bounds") {
    val (w, h) = (32, 24)
    val px = gradient(w, h)
    // quant=1 keeps quantization loss to rounding only: the FDCT→IDCT
    // float path must come back within ±2 of the source
    val bytes = JpegCodec.encodeJpegGray(w, h, px, quant = 1)
    val Some((dw, dh, out)) = JpegCodec.decodeJpegGray(bytes)
    assert((dw, dh) == (w, h))
    val maxDiff = px.indices.map(i => math.abs(out(i) - px(i))).max
    assert(maxDiff <= 2, s"round-trip drift $maxDiff > 2")
    // coarser quant still decodes, with bounded (lossy) error
    val lossy = JpegCodec.encodeJpegGray(w, h, px, quant = 16)
    val Some((_, _, out16)) = JpegCodec.decodeJpegGray(lossy)
    val maxDiff16 = px.indices.map(i => math.abs(out16(i) - px(i))).max
    assert(maxDiff16 <= 32, s"quant=16 drift $maxDiff16 unexpectedly large")
  }

  test("our decoder reads an ImageIO-WRITTEN grayscale JPEG (foreign tables, real entropy data)") {
    val (w, h) = (40, 28)
    val img = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_GRAY)
    val px = gradient(w, h)
    for (y <- 0 until h; x <- 0 until w) img.getRaster.setSample(x, y, 0, px(y * w + x))
    val bos = new java.io.ByteArrayOutputStream()
    assert(ImageIO.write(img, "jpg", bos), "ImageIO cannot write jpg")
    val bytes = bos.toByteArray
    val Some((dw, dh, out)) = JpegCodec.decodeJpegGray(bytes)
    assert((dw, dh) == (w, h), s"dims ${dw}x$dh")
    // ground truth: ImageIO's own decode of the same bytes; decoders may
    // differ by ±1 per sample (T.81 permits IDCT variance)
    val ref = ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    var maxDiff = 0
    for (y <- 0 until h; x <- 0 until w)
      maxDiff = math.max(maxDiff,
        math.abs(out(y * w + x) - ref.getRaster.getSample(x, y, 0)))
    assert(maxDiff <= 1, s"our decode drifts $maxDiff from ImageIO's on its own file")
  }

  test("restart markers: DRI + RSTn scan decodes bit-exactly, ImageIO agrees") {
    // interval 3 over a 5-block-wide image puts restarts at non-row
    // boundaries and cycles RST0.. across >8 restarts (40 blocks)
    val (w, h) = (40, 64)
    val px = flatBlocks(7L, w, h)
    val bytes = JpegCodec.encodeJpegGray(w, h, px, quant = 1, restartInterval = 3)
    // the DRI segment is present
    assert(bytes.sliding(2).exists(p => (p(0) & 0xff) == 0xff && (p(1) & 0xff) == 0xdd))
    val Some((dw, dh, out)) = JpegCodec.decodeJpegGray(bytes)
    assert((dw, dh) == (w, h))
    assert(out.sameElements(px), "restart-marked scan mis-decoded")
    // a standards reader agrees (DC resets honored on both sides)
    val img = ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    assert(img != null && img.getWidth == w && img.getHeight == h)
    for (y <- 0 until h; x <- 0 until w)
      assert(img.getRaster.getSample(x, y, 0) == px(y * w + x),
        s"ImageIO differs at ($x,$y) with restarts")
  }

  test("corrupt / truncated / foreign payloads return None, never throw") {
    val good = JpegCodec.encodeJpegGray(16, 16, flatBlocks(6L, 16, 16))
    assert(JpegCodec.decodeJpegGray(Array.emptyByteArray).isEmpty)
    assert(JpegCodec.decodeJpegGray("not a jpeg".getBytes).isEmpty)
    assert(JpegCodec.decodeJpegGray(good.take(20)).isEmpty) // truncated headers
    assert(JpegCodec.decodeJpegGray(good.dropRight(8)).isEmpty ||
      JpegCodec.decodeJpegGray(good.dropRight(8)).isDefined) // truncated scan: no throw
    // PNG and WAV payloads are clean Nones
    val png = ImageCodec.encodePngGray(4, 4, Array.fill(16)(9))
    assert(JpegCodec.decodeJpegGray(png).isEmpty)
    val wav = MediaCodec.encodeWavPcm16(8000, 1, Array.fill(30)(5.toShort))
    assert(JpegCodec.decodeJpegGray(wav).isEmpty)
    // progressive JPEGs are declared out of scope → None (forge SOF2)
    val forged = good.clone()
    var i = 2
    var done = false
    while (!done && i + 4 <= forged.length) {
      if ((forged(i) & 0xff) == 0xff && (forged(i + 1) & 0xff) == 0xc0) {
        forged(i + 1) = 0xc2.toByte; done = true
      } else i += 1
    }
    assert(done && JpegCodec.decodeJpegGray(forged).isEmpty)
  }

  // ------------------------------------------------------------- color

  /** Deterministic flat-TILE color image: constant packed RGB per
    * tile×tile square (tile = 16 for 4:2:0 MCUs, 8 for 4:4:4) — the
    * DC-only class whose color round trip is exact at quant=1 (the
    * q_image_decode_jpeg_color fixture formula). */
  private def flatTiles(id: Long, w: Int, h: Int, tile: Int): Array[Int] =
    Array.tabulate(w * h) { k =>
      val tx = (k % w) / tile; val ty = (k / w) / tile
      val r = ((id * 7 + ty * 13 + tx * 29) % 256).toInt
      val g = ((id * 11 + ty * 17 + tx * 5) % 256).toInt
      val b = ((id * 13 + ty * 3 + tx * 23) % 256).toInt
      (r << 16) | (g << 8) | b
    }

  /** The exact expected round trip of a DC-only color pixel: RGB →
    * floor-rounded JFIF YCbCr → floor-rounded RGB (the codec's declared
    * float matrices — what the SQL oracle replays). */
  private def yccRoundTrip(rgb: Int): Int = {
    val r = (rgb >> 16) & 0xff; val g = (rgb >> 8) & 0xff; val b = rgb & 0xff
    def cl(v: Int) = math.max(0, math.min(255, v))
    val y = cl(math.floor(0.299 * r + 0.587 * g + 0.114 * b + 0.5).toInt)
    val cb = cl(math.floor(128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b + 0.5).toInt)
    val cr = cl(math.floor(128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b + 0.5).toInt)
    val rr = cl(math.floor(y + 1.402 * (cr - 128) + 0.5).toInt)
    val gg = cl(math.floor(y - 0.344136 * (cb - 128) - 0.714136 * (cr - 128) + 0.5).toInt)
    val bb = cl(math.floor(y + 1.772 * (cb - 128) + 0.5).toInt)
    (rr << 16) | (gg << 8) | bb
  }

  test("color flat-MCU images round-trip to the exact YCbCr formula at quant=1 (4:2:0 + 4:4:4)") {
    for ((w, h, id, sub) <- Seq((32, 32, 1L, true), (24, 40, 2L, true), (17, 29, 3L, true),
        (16, 16, 4L, false), (23, 11, 5L, false), (33, 18, 6L, true))) {
      val tile = if (sub) 16 else 8
      val px = flatTiles(id, w, h, tile)
      val bytes = JpegCodec.encodeJpegColor(w, h, px, quant = 1, chromaSubsample = sub)
      val Some((dw, dh, out)) = JpegCodec.decodeJpegColor(bytes)
      assert((dw, dh) == (w, h), s"dims ${dw}x$dh != ${w}x$h")
      val expect = px.map(yccRoundTrip)
      val bad = out.indices.find(i => out(i) != expect(i))
      assert(bad.isEmpty, bad.map(i =>
        s"pixel $i: got ${out(i).toHexString} want ${expect(i).toHexString} (id=$id sub=$sub)").getOrElse(""))
    }
  }

  test("our color encoder output is a standards JPEG: ImageIO agrees within fixed-point tolerance") {
    val (w, h) = (32, 32)
    val px = flatTiles(9L, w, h, 16)
    val bytes = JpegCodec.encodeJpegColor(w, h, px, quant = 1)
    val img = ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    assert(img != null, "ImageIO could not read our color JPEG")
    assert(img.getWidth == w && img.getHeight == h)
    // DC-only blocks give every decoder the same integer YCbCr samples.
    // TILE INTERIORS must agree to conversion rounding (ImageIO uses a
    // fixed-point YCbCr→RGB matrix, ours is float floor(x+0.5)): ±2.
    // The 2-px ring at tile boundaries additionally sees ImageIO's
    // bilinear ("fancy") chroma upsampling blending neighboring tiles
    // where we replicate — a decoder CHOICE, not an error — so the ring
    // gets only a sanity bound.
    var maxIn = 0; var maxEdge = 0
    for (y <- 0 until h; x <- 0 until w) {
      val got = img.getRGB(x, y); val want = yccRoundTrip(px(y * w + x))
      val interior = (x % 16) >= 2 && (x % 16) <= 13 && (y % 16) >= 2 && (y % 16) <= 13
      for (shift <- Seq(16, 8, 0)) {
        val d = math.abs(((got >> shift) & 0xff) - ((want >> shift) & 0xff))
        if (interior) maxIn = math.max(maxIn, d) else maxEdge = math.max(maxEdge, d)
      }
    }
    assert(maxIn <= 2, s"ImageIO interior conversion drifts $maxIn > 2")
    assert(maxEdge <= 48, s"ImageIO boundary upsampling drifts $maxEdge > 48")
    // the header scanner reports the 3-component frame
    val m = ImageCodec.decodeMeta(bytes).get
    assert(m == ImageCodec.ImageMeta("jpeg", w.toLong, h.toLong, 8L, 3L), m.toString)
  }

  test("our color decoder reads an ImageIO-WRITTEN RGB JPEG (foreign tables, 4:2:0 interleave)") {
    val (w, h) = (48, 32)
    val px = flatTiles(11L, w, h, 16)
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, px(y * w + x))
    val bos = new java.io.ByteArrayOutputStream()
    assert(ImageIO.write(img, "jpg", bos), "ImageIO cannot write jpg")
    val bytes = bos.toByteArray
    val Some((dw, dh, out)) = JpegCodec.decodeJpegColor(bytes)
    assert((dw, dh) == (w, h), s"dims ${dw}x$dh")
    // ground truth: ImageIO's own decode of the same lossy bytes. Tile
    // INTERIORS are upsampling-independent (flat chroma), so there the
    // two decoders differ only by IDCT variance + conversion rounding;
    // the 2-px boundary ring also carries ImageIO's bilinear chroma
    // upsampling vs our replication — a decoder choice, sanity-bounded.
    val ref = ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    var maxIn = 0; var maxEdge = 0
    for (y <- 0 until h; x <- 0 until w; shift <- Seq(16, 8, 0)) {
      val d = math.abs(((out(y * w + x) >> shift) & 0xff) - ((ref.getRGB(x, y) >> shift) & 0xff))
      val interior = (x % 16) >= 2 && (x % 16) <= 13 && (y % 16) >= 2 && (y % 16) <= 13
      if (interior) maxIn = math.max(maxIn, d) else maxEdge = math.max(maxEdge, d)
    }
    assert(maxIn <= 4, s"our color decode drifts $maxIn from ImageIO's interior pixels")
    assert(maxEdge <= 48, s"boundary upsampling spread $maxEdge > 48")
  }

  test("color restart markers: DRI + RSTn MCU scan decodes to the exact formula") {
    val (w, h) = (80, 48) // 5×3 = 15 MCUs at 4:2:0, interval 4 crosses rows
    val px = flatTiles(13L, w, h, 16)
    val bytes = JpegCodec.encodeJpegColor(w, h, px, quant = 1, restartInterval = 4)
    assert(bytes.sliding(2).exists(p => (p(0) & 0xff) == 0xff && (p(1) & 0xff) == 0xdd))
    val Some((dw, dh, out)) = JpegCodec.decodeJpegColor(bytes)
    assert((dw, dh) == (w, h))
    val expect = px.map(yccRoundTrip)
    assert(out.sameElements(expect), "restart-marked color scan mis-decoded")
    val img = ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    assert(img != null && img.getWidth == w && img.getHeight == h)
  }

  test("color decoder: gray frames come back channel-replicated; corrupt color payloads are None") {
    val gray = JpegCodec.encodeJpegGray(16, 16, flatBlocks(3L, 16, 16))
    val Some((_, _, g)) = JpegCodec.decodeJpegColor(gray)
    val Some((_, _, g1)) = JpegCodec.decodeJpegGray(gray)
    assert(g.indices.forall(i => g(i) == ((g1(i) << 16) | (g1(i) << 8) | g1(i))))
    // a 1-component scan is non-interleaved (T.81 A.2.2): sampling
    // factors of 2×2 in the frame header must not change the block
    // layout — same pixels as the 0x11 original, and ImageIO agrees
    for ((w, h) <- Seq((32, 16), (24, 8))) {
      val px = flatBlocks(w + h, w, h)
      val patched = JpegCodec.encodeJpegGray(w, h, px).clone()
      val sof = patched.indices.find(i =>
        (patched(i) & 0xff) == 0xff && (patched(i + 1) & 0xff) == 0xc0).get
      assert((patched(sof + 11) & 0xff) == 0x11)
      patched(sof + 11) = 0x22.toByte
      JpegCodec.decodeJpegColor(patched) match {
        case Some((dw, dh, out)) =>
          assert((dw, dh) == (w, h))
          assert(out.sameElements(px.map(v => (v << 16) | (v << 8) | v)),
            s"2x2-sampled gray frame ${w}x$h mis-decoded")
        case None => fail(s"2x2-sampled gray frame ${w}x$h returned None")
      }
      val img = ImageIO.read(new java.io.ByteArrayInputStream(patched))
      assert(img != null && img.getWidth == w && img.getHeight == h)
      for (y <- 0 until h; x <- 0 until w)
        assert(img.getRaster.getSample(x, y, 0) == px(y * w + x), s"ImageIO differs at ($x,$y)")
    }
    assert(JpegCodec.decodeJpegColor(Array.emptyByteArray).isEmpty)
    assert(JpegCodec.decodeJpegColor("junk".getBytes).isEmpty)
    val good = JpegCodec.encodeJpegColor(16, 16, flatTiles(2L, 16, 16, 16))
    assert(JpegCodec.decodeJpegColor(good.take(40)).isEmpty)
    // forged giant dims rejected before allocation
    val forged = good.clone()
    var i = 2
    var done = false
    while (!done && i + 9 <= forged.length) {
      if ((forged(i) & 0xff) == 0xff && (forged(i + 1) & 0xff) == 0xc0) {
        forged(i + 5) = 0x7f.toByte; forged(i + 6) = 0xff.toByte
        forged(i + 7) = 0x7f.toByte; forged(i + 8) = 0xff.toByte
        done = true
      } else i += 1
    }
    assert(done && JpegCodec.decodeJpegColor(forged).isEmpty)
  }

  test("adversarial header dims are rejected before allocation") {
    val good = JpegCodec.encodeJpegGray(16, 16, flatBlocks(8L, 16, 16))
    // forge SOF0 dims to 0x7fff × 0x7fff (≫ MaxDecodePixels)
    val forged = good.clone()
    var i = 2
    var done = false
    while (!done && i + 9 <= forged.length) {
      if ((forged(i) & 0xff) == 0xff && (forged(i + 1) & 0xff) == 0xc0) {
        forged(i + 5) = 0x7f.toByte; forged(i + 6) = 0xff.toByte
        forged(i + 7) = 0x7f.toByte; forged(i + 8) = 0xff.toByte
        done = true
      } else i += 1
    }
    assert(done && JpegCodec.decodeJpegGray(forged).isEmpty)
  }
}
