package graft.api

/** Pure-JVM BASELINE JPEG codec (ITU-T T.81 / ISO-IEC 10918-1, public
  * spec) for 8-bit sequential-DCT images — grayscale
  * ([[encodeJpegGray]]/[[decodeJpegGray]], behind `q_image_decode_jpeg`)
  * and 3-component YCbCr COLOR with 4:2:0 / 4:4:4 sampling
  * ([[encodeJpegColor]]/[[decodeJpegColor]], behind
  * `q_image_decode_jpeg_color`) — the real entropy-decode + dequantize
  * + IDCT path. Each direction has ONE core, and gray is its
  * 1-component case.
  *
  * Decoder scope (returns None outside it, never throws): SOI → marker
  * walk (APPn/COM skipped, DQT 8/16-bit multi-table, DHT multi-table
  * canonical Huffman, DRI) → SOF0 with precision 8 and 1 or 3
  * components → ONE SOS covering every component → entropy-coded scan
  * with byte unstuffing and RSTn restarts → dequant → float IDCT
  * (double cosine basis) → level shift + clamp. A 1-component scan is
  * non-interleaved (T.81 A.2.2: one block per MCU in raster order,
  * whatever the frame's sampling factors); a 3-component scan
  * interleaves H×V blocks per component per MCU, with H, V ∈ {1, 2}.
  * Progressive (SOF2), arithmetic coding, CMYK and multi-scan frames
  * are out of scope by declaration.
  *
  * Encoder: spec-conformant baseline JFIF with a UNIFORM quantization
  * table (default all-ones — for images whose 8×8 blocks are CONSTANT,
  * the DCT has only an integer DC coefficient, so quant=1 round-trips
  * bit-exactly and a SQL oracle can replay the decoded pixels
  * arithmetically; any compliant decoder — ImageIO included, pinned in
  * JpegCodecSpec — reproduces the same constants because a DC-only
  * block is IDCT-implementation-independent). Huffman tables are valid
  * uniform-length canonical tables (12 DC categories at 4 bits, 162 AC
  * run/size symbols at 8 bits — Kraft sums 0.75 and 0.63); real FDCT +
  * zigzag run-length coding, so non-constant blocks also encode
  * (lossily, like any JPEG).
  *
  * Scale shape: per-row pure byte math, no allocation beyond the
  * decoded block planes — rides a 100 TB `mapPartitions` scan like the
  * PNG codec; corrupt payloads return None, never kill a stage.
  */
object JpegCodec {

  /** Zigzag scan order: zigzag index → natural (row-major) index. */
  private val Zigzag: Array[Int] = Array(
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63)

  private val CosTable: Array[Double] =
    Array.tabulate(8 * 8)(i => math.cos((2 * (i % 8) + 1) * (i / 8) * math.Pi / 16.0))

  private def c0(u: Int): Double = if (u == 0) 1.0 / math.sqrt(2.0) else 1.0

  private def clamp255(v: Int): Int = if (v < 0) 0 else if (v > 255) 255 else v

  /** The AC run/size symbol set for the uniform-length canonical table
    * the encoder ships: EOB, all 160 (run, size) pairs, ZRL — 162
    * symbols at 8 bits (Kraft 0.63, valid). */
  private val AcSymbols: Array[Int] = {
    val b = Array.newBuilder[Int]
    b += 0x00 // EOB
    for (run <- 0 to 15; size <- 1 to 10) b += ((run << 4) | size)
    b += 0xf0 // ZRL
    b.result()
  }

  /** Canonical codes for the uniform-length AC table: symbol → code. */
  private val AcCode: Array[Int] = {
    val m = Array.fill(256)(-1)
    AcSymbols.zipWithIndex.foreach { case (s, i) => m(s) = i }
    m
  }

  // ------------------------------------------------------------ encoder

  private final class BitWriter(out: java.io.ByteArrayOutputStream) {
    private var acc = 0
    private var nbits = 0
    def put(bits: Int, len: Int): Unit = {
      var i = len - 1
      while (i >= 0) {
        acc = (acc << 1) | ((bits >>> i) & 1)
        nbits += 1
        if (nbits == 8) {
          out.write(acc)
          if (acc == 0xff) out.write(0x00) // byte stuffing
          acc = 0; nbits = 0
        }
        i -= 1
      }
    }
    def flush(): Unit = {
      while (nbits != 0) put(1, 1) // pad with 1s per spec
    }
  }

  /** Magnitude category (number of bits) of a DC diff / AC coeff. */
  private def category(v: Int): Int = {
    var a = math.abs(v); var s = 0
    while (a != 0) { a >>= 1; s += 1 }
    s
  }

  /** Encode an 8-bit grayscale image as a real baseline JFIF JPEG with
    * a uniform quantization table (`quant` in every slot). Dimensions
    * need not be block-aligned — edge pixels replicate, like any
    * encoder. `restartInterval > 0` emits a DRI segment and RST0–7
    * markers every that-many blocks (DC prediction resets — the
    * error-resilience feature a long scan ships with). */
  def encodeJpegGray(w: Int, h: Int, pixels: Array[Int], quant: Int = 1,
      restartInterval: Int = 0): Array[Byte] = {
    require(w > 0 && h > 0 && w <= 0xffff && h <= 0xffff, s"bad dims ${w}x$h")
    require(pixels.length == w * h, s"pixels ${pixels.length} != ${w * h}")
    require(quant >= 1 && quant <= 255, s"quant out of range: $quant")
    require(restartInterval >= 0 && restartInterval <= 0xffff, "bad restart interval")
    encodeJpeg(w, h, Seq(EncComp(1, pixels, w, h, 1, 1, 0)), quant, restartInterval)
  }

  /** Encode a packed-RGB (0xRRGGBB row-major) image as a real baseline
    * COLOR JFIF JPEG: 3-component YCbCr, MCU-interleaved scan with
    * per-component DC prediction, 4:2:0 chroma subsampling
    * (`chromaSubsample = true`, 16×16 MCUs) or 4:4:4 (8×8 MCUs),
    * separate luma/chroma quant tables (both uniform `quant`) and the
    * same uniform-length canonical Huffman design as the gray encoder
    * (table ids 0 and 1). RGB→YCbCr is the JFIF float matrix with
    * floor(x + 0.5) rounding and a 0–255 clamp, so a SQL oracle can
    * replay it term-for-term.
    *
    * The gray-path oracle trick extends: an image whose color is
    * CONSTANT per MCU (16×16 tiles under 4:2:0, 8×8 under 4:4:4) makes
    * every component block DC-only — bit-exact at quant = 1 in any
    * compliant decoder, chroma box-downsample and nearest upsample both
    * identity on constants — so the lossy COLOR format becomes
    * arithmetically oracle-replayable end to end. */
  def encodeJpegColor(w: Int, h: Int, rgb: Array[Int], quant: Int = 1,
      chromaSubsample: Boolean = true, restartInterval: Int = 0): Array[Byte] = {
    require(w > 0 && h > 0 && w <= 0xffff && h <= 0xffff, s"bad dims ${w}x$h")
    require(rgb.length == w * h, s"pixels ${rgb.length} != ${w * h}")
    require(quant >= 1 && quant <= 255, s"quant out of range: $quant")
    require(restartInterval >= 0 && restartInterval <= 0xffff, "bad restart interval")
    // RGB → JFIF YCbCr planes (floor(x + 0.5), clamped)
    val yP = new Array[Int](w * h)
    val cbF = new Array[Int](w * h)
    val crF = new Array[Int](w * h)
    var k = 0
    while (k < rgb.length) {
      val r = (rgb(k) >> 16) & 0xff; val g = (rgb(k) >> 8) & 0xff; val b = rgb(k) & 0xff
      yP(k) = clamp255(math.floor(0.299 * r + 0.587 * g + 0.114 * b + 0.5).toInt)
      cbF(k) = clamp255(math.floor(128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b + 0.5).toInt)
      crF(k) = clamp255(math.floor(128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b + 0.5).toInt)
      k += 1
    }
    val sub = chromaSubsample
    val cw = if (sub) (w + 1) / 2 else w
    val ch = if (sub) (h + 1) / 2 else h
    // 2×2 box downsample with edge clamp (identity on constant tiles)
    def down(full: Array[Int]): Array[Int] =
      if (!sub) full
      else Array.tabulate(cw * ch) { i =>
        val cy = i / cw; val cx = i % cw
        val y0 = cy * 2; val x0 = cx * 2
        val y1 = math.min(h - 1, y0 + 1); val x1 = math.min(w - 1, x0 + 1)
        (full(y0 * w + x0) + full(y0 * w + x1) + full(y1 * w + x0) + full(y1 * w + x1) + 2) / 4
      }
    val lumaSampling = if (sub) 2 else 1
    encodeJpeg(w, h, Seq(
      EncComp(1, yP, w, h, lumaSampling, lumaSampling, 0),
      EncComp(2, down(cbF), cw, ch, 1, 1, 1),
      EncComp(3, down(crF), cw, ch, 1, 1, 1)), quant, restartInterval)
  }

  /** One component of an encoded frame: its samples (`pw`×`ph`,
    * row-major, low byte used), sampling factors `hs`×`vs`, and the
    * table id its quant and Huffman tables share. */
  private final case class EncComp(id: Int, plane: Array[Int], pw: Int, ph: Int,
      hs: Int, vs: Int, table: Int)

  /** The JPEG encoder behind both entry points: headers, then one scan
    * of MCUs in raster order — each MCU holds `hs`×`vs` blocks of every
    * component in frame order, each component keeps its own DC
    * predictor — with RSTn markers every `restartInterval` MCUs. */
  private def encodeJpeg(w: Int, h: Int, comps: Seq[EncComp], quant: Int,
      restartInterval: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    writeHeaders(out, w, h, comps, quant, restartInterval)
    val bw = new BitWriter(out)
    val mcuW = 8 * comps.map(_.hs).max; val mcuH = 8 * comps.map(_.vs).max
    val mcusX = (w + mcuW - 1) / mcuW; val mcusY = (h + mcuH - 1) / mcuH
    val preds = new Array[Int](comps.length)
    var nMcu = 0
    while (nMcu < mcusX * mcusY) {
      if (restartInterval > 0 && nMcu > 0 && nMcu % restartInterval == 0) {
        bw.flush() // byte-align with 1-padding
        out.write(0xff); out.write(0xd0 + ((nMcu / restartInterval - 1) % 8)) // RSTn cycle
        java.util.Arrays.fill(preds, 0)
      }
      val mx = nMcu % mcusX; val my = nMcu / mcusX
      var ci = 0
      while (ci < comps.length) {
        val c = comps(ci)
        var by = 0
        while (by < c.vs) {
          var bx = 0
          while (bx < c.hs) {
            preds(ci) = writeBlock(bw, quant, c.plane, c.pw, c.ph,
              (mx * c.hs + bx) * 8, (my * c.vs + by) * 8, preds(ci))
            bx += 1
          }
          by += 1
        }
        ci += 1
      }
      nMcu += 1
    }
    bw.flush()
    out.write(0xff); out.write(0xd9) // EOI
    out.toByteArray
  }

  /** SOI, APP0 JFIF, one uniform DQT per table id, SOF0, the DC/AC DHT
    * pair per table id, DRI when restarts are on, and the SOS naming
    * every component. DHT tables are uniform-length canonical — DC: 12
    * symbols at 4 bits; AC: all 162 run/size symbols at 8 bits — valid
    * (Kraft < 1), simple, and carried IN the file so any reader decodes
    * them. */
  private def writeHeaders(out: java.io.ByteArrayOutputStream, w: Int, h: Int,
      comps: Seq[EncComp], quant: Int, restartInterval: Int): Unit = {
    def u8(v: Int): Unit = out.write(v & 0xff)
    def u16(v: Int): Unit = { u8(v >> 8); u8(v) }
    def marker(m: Int): Unit = { u8(0xff); u8(m) }
    val tables = comps.map(_.table).distinct
    marker(0xd8) // SOI
    marker(0xe0); u16(16) // APP0 JFIF
    out.write("JFIF".getBytes("US-ASCII")); u8(0)
    u8(1); u8(1); u8(0); u16(1); u16(1); u8(0); u8(0)
    for (t <- tables) { marker(0xdb); u16(67); u8(t); for (_ <- 0 until 64) u8(quant) } // DQT, Pq=0
    marker(0xc0); u16(8 + 3 * comps.length) // SOF0: precision 8
    u8(8); u16(h); u16(w); u8(comps.length)
    for (c <- comps) { u8(c.id); u8((c.hs << 4) | c.vs); u8(c.table) }
    for (t <- tables) {
      marker(0xc4); u16(2 + 17 + 12) // DC table t
      u8(t)
      for (l <- 1 to 16) u8(if (l == 4) 12 else 0)
      for (s <- 0 until 12) u8(s)
      marker(0xc4); u16(2 + 17 + AcSymbols.length) // AC table t
      u8(0x10 | t)
      for (l <- 1 to 16) u8(if (l == 8) AcSymbols.length else 0)
      AcSymbols.foreach(u8)
    }
    if (restartInterval > 0) { marker(0xdd); u16(4); u16(restartInterval) } // DRI
    marker(0xda); u16(6 + 2 * comps.length) // SOS
    u8(comps.length)
    for (c <- comps) { u8(c.id); u8((c.table << 4) | c.table) }
    u8(0); u8(63); u8(0) // spectral selection 0..63, no approximation
  }

  /** FDCT + uniform quant + Huffman-emit one 8×8 block sampled (with
    * edge replication) from `plane` at (ox, oy); returns the block's
    * DC coefficient, the component's next DC predictor. */
  private def writeBlock(bw: BitWriter, quant: Int, plane: Array[Int], pw: Int, ph: Int,
      ox: Int, oy: Int, pred: Int): Int = {
    val block = new Array[Double](64)
    val coef = new Array[Int](64)
    var yy = 0
    while (yy < 8) {
      var xx = 0
      while (xx < 8) {
        val sy = math.min(ph - 1, oy + yy); val sx = math.min(pw - 1, ox + xx)
        block(yy * 8 + xx) = (plane(sy * pw + sx) & 0xff) - 128.0
        xx += 1
      }
      yy += 1
    }
    // FDCT + uniform quant, in zigzag order
    var zi = 0
    while (zi < 64) {
      val nat = Zigzag(zi)
      val u = nat / 8; val v = nat % 8
      var s = 0.0
      var y2 = 0
      while (y2 < 8) {
        var x2 = 0
        while (x2 < 8) {
          s += block(y2 * 8 + x2) * CosTable(v * 8 + x2) * CosTable(u * 8 + y2)
          x2 += 1
        }
        y2 += 1
      }
      coef(zi) = math.round(0.25 * c0(u) * c0(v) * s / quant).toInt
      zi += 1
    }
    // DC: symbol s0 → code s0, length 4
    val diff = coef(0) - pred
    val s0 = category(diff)
    bw.put(s0, 4)
    if (s0 > 0) bw.put(if (diff < 0) diff + (1 << s0) - 1 else diff, s0)
    // AC with run-lengths
    var run = 0
    var k = 1
    while (k < 64) {
      val v = coef(k)
      if (v == 0) run += 1
      else {
        while (run >= 16) { bw.put(AcCode(0xf0), 8); run -= 16 } // ZRL
        val sz = category(v)
        bw.put(AcCode((run << 4) | sz), 8)
        bw.put(if (v < 0) v + (1 << sz) - 1 else v, sz)
        run = 0
      }
      k += 1
    }
    if (run > 0) bw.put(AcCode(0x00), 8) // EOB
    coef(0)
  }

  // ------------------------------------------------------------ decoder

  /** Canonical Huffman table decoded from a DHT segment: the standard
    * mincode/maxcode/valptr triple (T.81 Annex C). */
  private final class Huff(bits: Array[Int], vals: Array[Int]) {
    val minCode = new Array[Int](17)
    val maxCode = Array.fill(17)(-1)
    val valPtr = new Array[Int](17)
    locally {
      var code = 0; var k = 0
      var l = 1
      while (l <= 16) {
        if (bits(l) > 0) {
          valPtr(l) = k
          minCode(l) = code
          code += bits(l); k += bits(l)
          maxCode(l) = code - 1
        }
        code <<= 1
        l += 1
      }
    }
    def value(len: Int, code: Int): Int = vals(valPtr(len) + code - minCode(len))
  }

  /** Bit reader over the entropy-coded segment with 0xFF00 unstuffing;
    * stops (returns -1 forever) at any non-RST marker. */
  private final class BitReader(data: Array[Byte], var pos: Int) {
    private var acc = 0
    private var nbits = 0
    var hitMarker: Int = -1
    def bit(): Int = {
      if (nbits == 0) {
        if (pos >= data.length) return -1
        var b = data(pos) & 0xff
        pos += 1
        if (b == 0xff) {
          if (pos >= data.length) return -1
          val m = data(pos) & 0xff
          pos += 1
          if (m == 0x00) { /* stuffed 0xFF data byte */ }
          else { hitMarker = m; return -1 }
          b = 0xff
        }
        acc = b; nbits = 8
      }
      nbits -= 1
      (acc >>> nbits) & 1
    }
    def bits(n: Int): Int = {
      var v = 0; var i = 0
      while (i < n) {
        val b = bit()
        if (b < 0) return -1
        v = (v << 1) | b
        i += 1
      }
      v
    }
    /** Align to the next byte and consume an expected RSTn marker. */
    def restart(): Boolean = {
      nbits = 0
      // the marker may already have been latched by bit()
      if (hitMarker >= 0xd0 && hitMarker <= 0xd7) { hitMarker = -1; return true }
      // T.81 B.1.1.2 allows any number of 0xFF fill bytes before a
      // marker, and an encoder may have emitted a stuffed FF00 pad at
      // the segment boundary — skip both before expecting RSTn
      var p = pos
      var skipping = true
      while (skipping && p + 1 < data.length && (data(p) & 0xff) == 0xff) {
        val m = data(p + 1) & 0xff
        if (m == 0xff) p += 1
        else if (m == 0x00) p += 2
        else skipping = false
      }
      if (p + 1 < data.length && (data(p) & 0xff) == 0xff) {
        val m = data(p + 1) & 0xff
        if (m >= 0xd0 && m <= 0xd7) { pos = p + 2; return true }
      }
      false
    }
  }

  private def decodeHuffSymbol(br: BitReader, h: Huff): Int = {
    var code = 0
    var len = 0
    while (len < 16) {
      val b = br.bit()
      if (b < 0) return -1
      code = (code << 1) | b
      len += 1
      if (h.maxCode(len) >= 0 && code <= h.maxCode(len)) return h.value(len, code)
    }
    -1
  }

  /** Extend a received magnitude-category value to its signed value
    * (T.81 F.2.2.1 EXTEND). */
  private def extend(v: Int, s: Int): Int =
    if (s == 0) 0 else if (v < (1 << (s - 1))) v - (1 << s) + 1 else v

  /** FULL baseline decode of an 8-bit grayscale sequential JPEG:
    * returns (w, h, row-major pixels 0–255); None for 3-component /
    * progressive / corrupt payloads. Claimed dims are bounded by
    * [[ImageCodec.MaxDecodePixels]] before any allocation. */
  def decodeJpegGray(bytes: Array[Byte]): Option[(Int, Int, Array[Int])] =
    decodeJpeg(bytes).filter(_.planes.length == 1).map(f => (f.w, f.h, f.grayPixels))

  /** FULL baseline decode of a sequential JPEG with 1 or 3 components
    * (grayscale, or JFIF YCbCr with per-component sampling factors
    * h, v ∈ {1, 2} — 4:4:4, 4:2:2, 4:2:0, 4:4:0), nearest-neighbor
    * chroma upsample, and the JFIF float YCbCr→RGB matrix with
    * floor(x + 0.5) rounding. Returns (w, h, packed 0xRRGGBB row-major
    * — gray replicated across channels for 1-component frames); None
    * for progressive / arithmetic / unsupported sampling / corrupt
    * payloads. Claimed dims are bounded by
    * [[ImageCodec.MaxDecodePixels]] before any allocation. */
  def decodeJpegColor(bytes: Array[Byte]): Option[(Int, Int, Array[Int])] =
    decodeJpeg(bytes).map { f =>
      val w = f.w; val h = f.h
      if (f.planes.length == 1) (w, h, f.grayPixels.map(g => (g << 16) | (g << 8) | g))
      else {
        val px = new Array[Int](w * h)
        // nearest (replicating) upsample: src = dst · comp / max
        val maxH = f.compH.max; val maxV = f.compV.max
        def at(c: Int, x: Int, y: Int): Int =
          f.planes(c)((y * f.compV(c) / maxV) * f.planeW(c) + x * f.compH(c) / maxH)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val yv = at(0, x, y).toDouble
            val cb = at(1, x, y) - 128
            val cr = at(2, x, y) - 128
            val r = clamp255(math.floor(yv + 1.402 * cr + 0.5).toInt)
            val g = clamp255(math.floor(yv - 0.344136 * cb - 0.714136 * cr + 0.5).toInt)
            val b = clamp255(math.floor(yv + 1.772 * cb + 0.5).toInt)
            px(y * w + x) = (r << 16) | (g << 8) | b
            x += 1
          }
          y += 1
        }
        (w, h, px)
      }
    }

  /** A decoded frame before color conversion: one sample plane per
    * component at its own (subsampled) resolution, padded to whole
    * MCUs (`planeW` wide), with the sampling factors that laid it out. */
  private final case class Frame(w: Int, h: Int, planes: Array[Array[Int]],
      planeW: Array[Int], compH: Array[Int], compV: Array[Int]) {
    /** The first plane cropped to w×h, row-major. */
    def grayPixels: Array[Int] = Array.tabulate(w * h)(k => planes(0)((k / w) * planeW(0) + k % w))
  }

  /** The JPEG decoder behind both entry points: marker walk, then the
    * one scan — Huffman decode with per-component DC predictors and
    * quant tables, byte unstuffing + RSTn restarts (counted in MCUs),
    * dequant, float IDCT — into per-component planes. */
  private def decodeJpeg(bytes: Array[Byte]): Option[Frame] = {
    if (bytes == null || bytes.length < 4) return None
    if ((bytes(0) & 0xff) != 0xff || (bytes(1) & 0xff) != 0xd8) return None
    val quantTables = new Array[Array[Int]](4)
    val dcTables = new Array[Huff](4)
    val acTables = new Array[Huff](4)
    var w = -1; var h = -1
    var nComp = 0
    val compId = new Array[Int](3); val compH = new Array[Int](3)
    val compV = new Array[Int](3); val compTq = new Array[Int](3)
    val dcSel = new Array[Int](3); val acSel = new Array[Int](3)
    var restartInterval = 0
    var i = 2
    var scanStart = -1
    try {
      while (scanStart < 0) {
        if (i + 4 > bytes.length) return None
        if ((bytes(i) & 0xff) != 0xff) return None
        var m = bytes(i + 1) & 0xff
        // skip fill bytes
        while (m == 0xff) { i += 1; if (i + 4 > bytes.length) return None; m = bytes(i + 1) & 0xff }
        if (m == 0x01 || (m >= 0xd0 && m <= 0xd7)) { i += 2 }
        else {
          val len = ((bytes(i + 2) & 0xff) << 8) | (bytes(i + 3) & 0xff)
          if (len < 2 || i + 2 + len > bytes.length) return None
          val p = i + 4
          m match {
            case 0xdb => // DQT: one or more tables
              var q = p
              while (q < i + 2 + len) {
                val pq = (bytes(q) & 0xff) >> 4
                val tq = bytes(q) & 0x0f
                if (tq > 3 || pq > 1) return None
                val t = new Array[Int](64)
                var z = 0
                while (z < 64) {
                  t(Zigzag(z)) =
                    if (pq == 0) bytes(q + 1 + z) & 0xff
                    else ((bytes(q + 1 + 2 * z) & 0xff) << 8) | (bytes(q + 2 + 2 * z) & 0xff)
                  z += 1
                }
                quantTables(tq) = t
                q += 1 + (if (pq == 0) 64 else 128)
              }
            case 0xc4 => // DHT: one or more tables
              var q = p
              while (q < i + 2 + len) {
                val tc = (bytes(q) & 0xff) >> 4
                val th = bytes(q) & 0x0f
                if (tc > 1 || th > 3) return None
                val bitsArr = new Array[Int](17)
                var total = 0
                var l = 1
                while (l <= 16) { bitsArr(l) = bytes(q + l) & 0xff; total += bitsArr(l); l += 1 }
                if (total > 256 || q + 17 + total > i + 2 + len) return None
                val vals = Array.tabulate(total)(k => bytes(q + 17 + k) & 0xff)
                val tbl = new Huff(bitsArr, vals)
                if (tc == 0) dcTables(th) = tbl else acTables(th) = tbl
                q += 17 + total
              }
            case 0xc0 => // SOF0 baseline
              if (len < 8) return None
              if ((bytes(p) & 0xff) != 8) return None // precision
              h = ((bytes(p + 1) & 0xff) << 8) | (bytes(p + 2) & 0xff)
              w = ((bytes(p + 3) & 0xff) << 8) | (bytes(p + 4) & 0xff)
              nComp = bytes(p + 5) & 0xff
              if (nComp != 1 && nComp != 3) return None // no CMYK
              if (len < 8 + 3 * nComp) return None
              var c = 0
              while (c < nComp) {
                compId(c) = bytes(p + 6 + 3 * c) & 0xff
                val hv = bytes(p + 7 + 3 * c) & 0xff
                compTq(c) = bytes(p + 8 + 3 * c) & 0xff
                // a 1-component scan is non-interleaved (T.81 A.2.2): one
                // block per MCU whatever the sampling factors say
                if (nComp == 1) { compH(c) = 1; compV(c) = 1 }
                else { compH(c) = hv >> 4; compV(c) = hv & 0x0f }
                if (compH(c) < 1 || compH(c) > 2 || compV(c) < 1 || compV(c) > 2) return None
                if (compTq(c) > 3) return None
                c += 1
              }
              if (w <= 0 || h <= 0) return None
              if (w.toLong * h.toLong > ImageCodec.MaxDecodePixels) return None
            case 0xc1 | 0xc2 | 0xc3 | 0xc5 | 0xc6 | 0xc7 |
                 0xc9 | 0xca | 0xcb | 0xcd | 0xce | 0xcf =>
              return None // extended/progressive/lossless/arithmetic
            case 0xdd => // DRI
              restartInterval = ((bytes(p) & 0xff) << 8) | (bytes(p + 1) & 0xff)
            case 0xda => // SOS
              if (w < 0) return None
              val ns = bytes(p) & 0xff
              if (ns != nComp) return None // one scan covering every component
              var sc = 0
              while (sc < ns) {
                val cs = bytes(p + 1 + 2 * sc) & 0xff
                val td = (bytes(p + 2 + 2 * sc) & 0xff) >> 4
                val ta = bytes(p + 2 + 2 * sc) & 0x0f
                var j = 0; var found = -1
                while (j < nComp) { if (compId(j) == cs) found = j; j += 1 }
                if (found < 0) return None
                dcSel(found) = td; acSel(found) = ta
                sc += 1
              }
              scanStart = i + 2 + len
            case 0xd9 => return None // EOI before any scan
            case _ => () // APPn, COM, others: skip
          }
          i += 2 + len
        }
      }
      val maxH = compH.take(nComp).max; val maxV = compV.take(nComp).max
      val mcusX = (w + 8 * maxH - 1) / (8 * maxH)
      val mcusY = (h + 8 * maxV - 1) / (8 * maxV)
      // component planes at natural (subsampled) resolution, padded to
      // whole blocks; bounded by ~4×MaxDecodePixels via the dims check
      val planeW = new Array[Int](nComp); val planeH = new Array[Int](nComp)
      val planes = new Array[Array[Int]](nComp)
      var c = 0
      while (c < nComp) {
        planeW(c) = mcusX * compH(c) * 8
        planeH(c) = mcusY * compV(c) * 8
        if (quantTables(compTq(c)) == null) return None
        if (dcTables(dcSel(c)) == null || acTables(acSel(c)) == null) return None
        planes(c) = new Array[Int](planeW(c) * planeH(c))
        c += 1
      }
      val br = new BitReader(bytes, scanStart)
      val preds = new Array[Int](nComp)
      val coef = new Array[Int](64)
      // Huffman-decode + dequant + IDCT one block into plane `ci` at (ox, oy)
      def readBlock(ci: Int, ox: Int, oy: Int): Boolean = {
        val qt = quantTables(compTq(ci))
        val dc = dcTables(dcSel(ci)); val ac = acTables(acSel(ci))
        java.util.Arrays.fill(coef, 0)
        val s0 = decodeHuffSymbol(br, dc)
        if (s0 < 0 || s0 > 11) return false
        val dv = if (s0 == 0) 0 else {
          val raw = br.bits(s0)
          if (raw < 0) return false
          extend(raw, s0)
        }
        preds(ci) += dv
        coef(0) = preds(ci) * qt(0)
        var k = 1
        var eob = false
        while (k < 64 && !eob) {
          val rs = decodeHuffSymbol(br, ac)
          if (rs < 0) return false
          val run = rs >> 4; val size = rs & 0x0f
          if (size == 0) {
            if (run == 15) k += 16 // ZRL
            else eob = true // EOB
          } else {
            k += run
            if (k > 63) return false
            val raw = br.bits(size)
            if (raw < 0) return false
            coef(Zigzag(k)) = extend(raw, size) * qt(Zigzag(k))
            k += 1
          }
        }
        // IDCT (double basis) + level shift + clamp
        val pw = planeW(ci); val plane = planes(ci)
        var y2 = 0
        while (y2 < 8) {
          var x2 = 0
          while (x2 < 8) {
            var s = 0.0
            var u = 0
            while (u < 8) {
              var v = 0
              while (v < 8) {
                val cf = coef(u * 8 + v)
                if (cf != 0)
                  s += c0(u) * c0(v) * cf * CosTable(v * 8 + x2) * CosTable(u * 8 + y2)
                v += 1
              }
              u += 1
            }
            plane((oy + y2) * pw + ox + x2) =
              math.max(0, math.min(255, math.round(s / 4.0 + 128.0).toInt))
            x2 += 1
          }
          y2 += 1
        }
        true
      }
      var mcu = 0
      val totalMcus = mcusX * mcusY
      while (mcu < totalMcus) {
        if (restartInterval > 0 && mcu > 0 && mcu % restartInterval == 0) {
          if (!br.restart()) return None
          java.util.Arrays.fill(preds, 0)
        }
        val mx = mcu % mcusX; val my = mcu / mcusX
        c = 0
        while (c < nComp) {
          var by = 0
          while (by < compV(c)) {
            var bx = 0
            while (bx < compH(c)) {
              if (!readBlock(c, (mx * compH(c) + bx) * 8, (my * compV(c) + by) * 8)) return None
              bx += 1
            }
            by += 1
          }
          c += 1
        }
        mcu += 1
      }
      Some(Frame(w, h, planes, planeW, compH.take(nComp), compV.take(nComp)))
    } catch {
      case _: ArrayIndexOutOfBoundsException | _: NegativeArraySizeException => None
    }
  }
}
