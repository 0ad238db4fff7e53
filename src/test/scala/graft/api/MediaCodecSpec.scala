package graft.api

import org.scalatest.funsuite.AnyFunSuite
import javax.sound.sampled.AudioSystem

/** Byte-level validation of the audio/video codec against the JDK's own
  * javax.sound.sampled as ground truth (WAV), plus structural checks of
  * the ISO-BMFF walk — the [[ImageCodecSpec]] discipline applied to the
  * remaining modalities.
  */
class MediaCodecSpec extends AnyFunSuite {

  private def samples(id: Long, n: Int): Array[Short] =
    Array.tabulate(n)(k => (((id * 17 + k * 29) % 65536) - 32768).toShort)

  test("encodeWavPcm16 round-trips through our own decoder (mono + stereo)") {
    for (ch <- Seq(1, 2)) {
      val s = samples(5L, 120 * ch)
      val bytes = MediaCodec.encodeWavPcm16(16000, ch, s)
      val (m, out) = MediaCodec.decodeWavPcm16(bytes).get
      assert(m == MediaCodec.AudioMeta("wav", 16000L, ch.toLong, 16L, 120L))
      assert(out.sameElements(s), s"sample mismatch at channels=$ch")
    }
  }

  test("encodeWavPcm16 output is a standards WAV: javax.sound decodes identical format and bytes") {
    val s = samples(9L, 200)
    val bytes = MediaCodec.encodeWavPcm16(22050, 2, s)
    val in = AudioSystem.getAudioInputStream(new java.io.ByteArrayInputStream(bytes))
    val fmt = in.getFormat
    assert(fmt.getSampleRate == 22050f && fmt.getChannels == 2
      && fmt.getSampleSizeInBits == 16 && !fmt.isBigEndian, fmt.toString)
    assert(in.getFrameLength == 100, s"frames ${in.getFrameLength}")
    val raw = in.readAllBytes()
    assert(raw.length == 400)
    // little-endian PCM16 bytes must be OUR sample bytes verbatim
    val decoded = Array.tabulate(200)(k =>
      ((raw(k * 2) & 0xff) | (raw(k * 2 + 1) << 8)).toShort)
    assert(decoded.sameElements(s), "javax.sound read different samples")
  }

  test("decodeWavMeta skips foreign chunks (LIST before fmt) and honors odd-length padding") {
    val s = samples(3L, 50)
    val base = MediaCodec.encodeWavPcm16(8000, 1, s)
    // splice an odd-length LIST chunk between WAVE and fmt — readers
    // must skip it plus its pad byte per the RIFF spec
    val foreign = "LIST".getBytes("US-ASCII") ++
      Array[Byte](5, 0, 0, 0) ++ "INFOx".getBytes("US-ASCII") ++ Array[Byte](0)
    val spliced = base.take(12) ++ foreign ++ base.drop(12)
    // patch the RIFF size field (little-endian at offset 4)
    val riffLen = spliced.length - 8
    spliced(4) = (riffLen & 0xff).toByte
    spliced(5) = ((riffLen >> 8) & 0xff).toByte
    spliced(6) = ((riffLen >> 16) & 0xff).toByte
    spliced(7) = ((riffLen >> 24) & 0xff).toByte
    val (m, out) = MediaCodec.decodeWavPcm16(spliced).get
    assert(m.nFrames == 50 && out.sameElements(s), m.toString)
  }

  test("encodeMp4Header round-trips dims/duration through the box walk") {
    for ((w, h, ts, dur) <- Seq((640, 360, 600, 3600), (16, 16, 90000, 0), (1920, 1080, 1000, 123456))) {
      val m = MediaCodec.decodeMp4Meta(MediaCodec.encodeMp4Header(w, h, ts, dur)).get
      assert(m == MediaCodec.VideoMeta("mp4", w.toLong, h.toLong,
        dur.toLong * 1000L / ts, ts.toLong), m.toString)
    }
  }

  test("decodeMp4Meta reads a hand-built VERSION-1 mvhd at the spec offsets") {
    // ISO 14496-12 v1 mvhd payload: ver/flags(4) ctime(8) mtime(8)
    // timescale(4) duration(8) rate(4) volume+res(4) 2×reserved(8)
    // matrix(36) predefined(24) next_track_id(4) — timescale at payload
    // offset 28, 64-bit duration at 32
    def be32(v: Int): Array[Byte] =
      Array[Byte]((v >>> 24).toByte, (v >>> 16).toByte, (v >>> 8).toByte, v.toByte)
    def box(tp: String, payload: Array[Byte]*): Array[Byte] = {
      val len = 8 + payload.map(_.length).sum
      be32(len) ++ tp.getBytes("US-ASCII") ++ payload.flatten
    }
    val timescale = 90000
    val durationHi = 1  // force a duration that needs all 64 bits read
    val durationLo = 500
    val duration = (durationHi.toLong << 32) | durationLo.toLong
    val mvhdV1 = box("mvhd", be32(0x01000000),
      be32(0), be32(0xdeadbeef), be32(0), be32(0xcafebabe), // ctime/mtime: 8B each, non-zero noise
      be32(timescale), be32(durationHi), be32(durationLo),
      be32(0x00010000), be32(0x01000000), be32(0), be32(0),
      Array.fill(9)(be32(0)).flatten.toArray,
      Array.fill(6)(be32(0)).flatten.toArray, be32(2))
    val tkhd = box("tkhd", be32(0x00000007), be32(0), be32(0), be32(1),
      be32(0), be32(600), be32(0), be32(0), be32(0), be32(0),
      Array.fill(9)(be32(0)).flatten.toArray,
      be32(640 << 16), be32(360 << 16))
    val ftyp = box("ftyp", "isom".getBytes("US-ASCII"), be32(512),
      "isom".getBytes("US-ASCII"))
    val payload = ftyp ++ box("moov", mvhdV1, box("trak", tkhd))
    val m = MediaCodec.decodeMp4Meta(payload).get
    assert(m == MediaCodec.VideoMeta("mp4", 640L, 360L,
      duration * 1000L / timescale, timescale.toLong), m.toString)
  }

  test("encodeMp4WithSamples round-trips the full sample table through the stbl walk") {
    val sizes = Seq(512, 700, 513, 999, 640, 800, 517)
    val b = MediaCodec.encodeMp4WithSamples(320, 240, timescale = 1000,
      sampleSizes = sizes, sampleDelta = 40, syncEvery = 3)
    val t = MediaCodec.decodeMp4Samples(b).get
    assert(t.timescale == 1000L)
    assert(t.sizes == sizes.map(_.toLong))
    assert(t.stts == Seq((7L, 40L)))
    assert(t.sync == Seq(1L, 4L, 7L))
    assert(t.nSamples == 7L && t.totalBytes == sizes.map(_.toLong).sum)
    // decode-time accumulation through the run-length pairs
    assert(t.decodeTime(1) == 0L && t.decodeTime(4) == 120L && t.decodeTime(7) == 240L)
    assert(t.decodeTime(8) == 280L) // one past the end = track duration
    // the header still parses as plain video metadata too
    val m = MediaCodec.decodeMp4Meta(b).get
    assert(m.width == 320 && m.height == 240 && m.durationMs == 280L, m.toString)
  }

  test("decodeMp4Samples: absent stss means every sample is sync (spec default); corrupt tables bounded") {
    // strip the stss box: re-encode then surgically remove it
    val b = MediaCodec.encodeMp4WithSamples(64, 64, 600, Seq(100, 200, 300), 10, 2)
    def findBox(tag: String): Int = {
      var i = 0
      while (i + 8 <= b.length) {
        if (new String(b.slice(i + 4, i + 8), "US-ASCII") == tag) return i
        i += 1
      }
      -1
    }
    val off = findBox("stss")
    assert(off > 0)
    val len = ((b(off) & 0xff) << 24) | ((b(off + 1) & 0xff) << 16) |
      ((b(off + 2) & 0xff) << 8) | (b(off + 3) & 0xff)
    val stripped = b.take(off) ++ b.drop(off + len)
    // fix every ancestor box length (moov, trak, mdia, minf, stbl all shrink)
    def patchLens(arr: Array[Byte]): Array[Byte] = {
      val out = arr.clone()
      for (tag <- Seq("moov", "trak", "mdia", "minf", "stbl")) {
        var i = 0
        while (i + 8 <= out.length) {
          if (new String(out.slice(i + 4, i + 8), "US-ASCII") == tag) {
            val old = ((out(i) & 0xff) << 24) | ((out(i + 1) & 0xff) << 16) |
              ((out(i + 2) & 0xff) << 8) | (out(i + 3) & 0xff)
            val nv = old - len
            out(i) = (nv >>> 24).toByte; out(i + 1) = (nv >>> 16).toByte
            out(i + 2) = (nv >>> 8).toByte; out(i + 3) = nv.toByte
            i = out.length
          } else i += 1
        }
      }
      out
    }
    val t = MediaCodec.decodeMp4Samples(patchLens(stripped)).get
    assert(t.sync == Seq(1L, 2L, 3L), s"absent stss should default to all-sync: ${t.sync}")
    // forged uniform stsz with a giant count must be rejected pre-allocation
    val forged = b.clone()
    val so = findBox("stsz")
    // set uniform size 1 and count 0x7fffffff
    forged(so + 12) = 0; forged(so + 13) = 0; forged(so + 14) = 0; forged(so + 15) = 1
    forged(so + 16) = 0x7f.toByte; forged(so + 17) = 0xff.toByte
    forged(so + 18) = 0xff.toByte; forged(so + 19) = 0xff.toByte
    assert(MediaCodec.decodeMp4Samples(forged).isEmpty)
    // truncated payload: clean None
    assert(MediaCodec.decodeMp4Samples(b.take(40)).isEmpty)
    assert(MediaCodec.decodeMp4Samples(MediaCodec.encodeMp4Header(16, 16, 600, 60)).isEmpty)
  }

  test("corrupt / truncated / foreign payloads return None, never throw") {
    val wav = MediaCodec.encodeWavPcm16(8000, 1, samples(1L, 30))
    val mp4 = MediaCodec.encodeMp4Header(320, 240, 600, 600)
    assert(MediaCodec.decodeWavMeta(Array.emptyByteArray).isEmpty)
    assert(MediaCodec.decodeWavMeta("RIFFxxxxJUNK".getBytes).isEmpty)
    assert(MediaCodec.decodeWavMeta(wav.take(40)).isEmpty) // truncated data chunk
    assert(MediaCodec.decodeWavMeta(mp4).isEmpty)
    assert(MediaCodec.decodeMp4Meta(wav).isEmpty)
    assert(MediaCodec.decodeMp4Meta(mp4.take(20)).isEmpty) // moov truncated away
    // a PNG through the video/audio parsers must also be a clean None
    val png = ImageCodec.encodePngGray(3, 3, Array.fill(9)(7))
    assert(MediaCodec.decodeWavMeta(png).isEmpty && MediaCodec.decodeMp4Meta(png).isEmpty)
    // a forged length near Int.MaxValue must not wrap past the bounds check
    def be(v: Int) = java.nio.ByteBuffer.allocate(4).putInt(v).array()
    def le(v: Int) = java.nio.ByteBuffer.allocate(4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(v).array()
    val huge = 0x7ffffff0
    val bigBox = mp4.take(24) ++ be(huge) ++ "free".getBytes("US-ASCII") ++ new Array[Byte](16)
    assert(new String(mp4, 4, 4, "US-ASCII") == "ftyp" && be32(mp4, 0) == 24)
    assert(MediaCodec.decodeMp4Meta(bigBox).isEmpty)
    assert(MediaCodec.decodeMp4Samples(bigBox).isEmpty)
    assert(MediaCodec.decodeMp4SampleRanges(bigBox).isEmpty)
    val bigChunk = "RIFF".getBytes("US-ASCII") ++ le(36) ++ "WAVE".getBytes("US-ASCII") ++
      "junk".getBytes("US-ASCII") ++ le(huge) ++ new Array[Byte](32)
    assert(MediaCodec.decodeWavMeta(bigChunk).isEmpty)
    assert(MediaCodec.decodeWavPcm16(bigChunk).isEmpty)
  }

  private def be32(b: Array[Byte], off: Int): Int = java.nio.ByteBuffer.wrap(b, off, 4).getInt

  test("envelopeHash64: integer mean threshold, length-invariant motif") {
    // 64 samples, one per window: bit w = 1 iff 64*|s(w)| >= sum|s|
    val base = Array.tabulate(64)(w => (w * 100 - 3200).toShort)
    val h = MediaCodec.envelopeHash64(base)
    val total = base.map(x => math.abs(x.toLong)).sum
    for (w <- 0 until 64) {
      val want = 64L * math.abs(base(w).toLong) >= total
      assert(((h >>> w) & 1L) == (if (want) 1L else 0L), s"bit $w wrong")
    }
    // the same motif at 4x the duration (constant per window) must
    // fingerprint IDENTICALLY — the property that makes it a near-dup
    // key across durations, which a byte hash can never be
    val long4 = Array.tabulate(256)(k => base((k * 64) / 256))
    assert(MediaCodec.envelopeHash64(long4) == h, "must be length-invariant")
    // constant stream with EQUAL window counts (128 = 2 per window):
    // every window equals the mean -> all bits set; at n = 100 the
    // uneven 1-or-2-sample windows split around the mean instead —
    // window energies are counts x |s|, not per-sample means
    assert(MediaCodec.envelopeHash64(Array.fill(128)(5.toShort)) == -1L)
  }

  // -------------------------------------------------- MJPEG-in-BMFF

  private def jpegFrame(id: Long, f: Int, w: Int, h: Int): Array[Byte] = {
    val px = Array.tabulate(w * h) { k =>
      val bx = (k % w) / 8; val by = (k / w) / 8
      ((id * 37 + f * 71 + by * 11 + bx * 5) % 256).toInt
    }
    JpegCodec.encodeJpegGray(w, h, px, quant = 1)
  }

  test("encodeMp4Mjpeg: stsc/stco ranges slice the exact frame payloads back (1 and 3 chunks)") {
    val (w, h) = (24, 16)
    for (nChunks <- Seq(1, 2, 3)) {
      val frames = (0 until 7).map(f => jpegFrame(5L, f, w, h))
      val bytes = MediaCodec.encodeMp4Mjpeg(w, h, 1000, 40, 3, frames, nChunks)
      val ranges = MediaCodec.decodeMp4SampleRanges(bytes).get
      assert(ranges.length == 7, s"ranges ${ranges.length} != 7 at nChunks=$nChunks")
      for ((f, i) <- frames.zipWithIndex) {
        val (off, sz) = ranges(i)
        assert(sz == f.length, s"size mismatch sample $i")
        val sliced = java.util.Arrays.copyOfRange(bytes, off.toInt, (off + sz).toInt)
        assert(sliced.sameElements(f), s"payload mismatch sample $i at nChunks=$nChunks")
      }
      // the sample-table walk still reads the same structure
      val t = MediaCodec.decodeMp4Samples(bytes).get
      assert(t.nSamples == 7 && t.sync == Seq(1L, 4L, 7L) && t.timescale == 1000L)
      assert(t.sizes.map(_.toInt) == frames.map(_.length))
      // and the header scan agrees on dims
      val m = MediaCodec.decodeMp4Meta(bytes).get
      assert(m.width == w && m.height == h)
    }
  }

  test("MJPEG keyframes entropy-decode back to the exact source pixels") {
    val (w, h) = (16, 16)
    val frames = (0 until 5).map(f => jpegFrame(9L, f, w, h))
    val bytes = MediaCodec.encodeMp4Mjpeg(w, h, 1000, 50, 2, frames, nChunks = 2)
    val t = MediaCodec.decodeMp4Samples(bytes).get
    val ranges = MediaCodec.decodeMp4SampleRanges(bytes).get
    assert(t.sync == Seq(1L, 3L, 5L))
    for (sn <- t.sync) {
      val (off, sz) = ranges((sn - 1).toInt)
      val payload = java.util.Arrays.copyOfRange(bytes, off.toInt, (off + sz).toInt)
      val Some((dw, dh, px)) = JpegCodec.decodeJpegGray(payload)
      assert((dw, dh) == (w, h))
      val f = (sn - 1).toInt
      val want = Array.tabulate(w * h) { k =>
        val bx = (k % w) / 8; val by = (k / w) / 8
        ((9L * 37 + f * 71 + by * 11 + bx * 5) % 256).toInt
      }
      assert(px.sameElements(want), s"keyframe $sn pixels wrong")
    }
  }

  test("decodeMp4SampleRanges: forged/absent tables return None, never throw or slice out of bounds") {
    assert(MediaCodec.decodeMp4SampleRanges(Array.emptyByteArray).isEmpty)
    assert(MediaCodec.decodeMp4SampleRanges("junk1234junk".getBytes).isEmpty)
    // header-only BMFF (no stsc/stco) is a clean None
    val headerOnly = MediaCodec.encodeMp4WithSamples(320, 240, 1000, Seq(100, 200), 40, 2)
    assert(MediaCodec.decodeMp4SampleRanges(headerOnly).isEmpty)
    // forge a chunk offset past the payload end: range check must trip
    val frames = (0 until 3).map(f => jpegFrame(2L, f, 16, 16))
    val good = MediaCodec.encodeMp4Mjpeg(16, 16, 1000, 40, 2, frames)
    val forged = good.clone()
    var i = 0
    var patched = false
    while (!patched && i + 8 <= forged.length) {
      if (new String(forged, i + 4, 4, "US-ASCII") == "stco") {
        // first offset -> 0x7fffff00
        forged(i + 16) = 0x7f.toByte; forged(i + 17) = 0xff.toByte
        forged(i + 18) = 0xff.toByte; forged(i + 19) = 0x00.toByte
        patched = true
      } else i += 1
    }
    assert(patched && MediaCodec.decodeMp4SampleRanges(forged).isEmpty)
  }
}
