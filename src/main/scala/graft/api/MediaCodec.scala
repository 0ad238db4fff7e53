package graft.api

/** Pure-JVM audio/video container codec — the REAL decode step for the
  * non-image modalities (companion to [[ImageCodec]], same contract):
  * byte-level WAV (RIFF/WAVE, PCM 16-bit) encode/decode against the
  * public RIFF spec, and ISO-BMFF (MP4, ISO/IEC 14496-12) box walking
  * for video dimensions/duration. One tight byte loop per row, no
  * javax.sound / media framework on the executor path (the spec suite
  * cross-checks WAV against the JDK's own `javax.sound.sampled` as
  * ground truth); corrupt payloads return None instead of throwing so
  * one bad crawl record cannot kill a 10⁹-row scan.
  */
object MediaCodec {

  /** Decoded audio container metadata. */
  final case class AudioMeta(format: String, sampleRate: Long, channels: Long,
      bitsPerSample: Long, nFrames: Long)

  /** Decoded video container metadata (dims from the first track's
    * tkhd, duration in ms from mvhd timescale/duration). */
  final case class VideoMeta(format: String, width: Long, height: Long,
      durationMs: Long, timescale: Long)

  private def le16(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)
  private def le32(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8) |
      ((b(off + 2) & 0xff) << 16) | ((b(off + 3) & 0xff) << 24)
  private def be32(b: Array[Byte], off: Int): Int =
    ((b(off) & 0xff) << 24) | ((b(off + 1) & 0xff) << 16) |
      ((b(off + 2) & 0xff) << 8) | (b(off + 3) & 0xff)
  private def tag(b: Array[Byte], off: Int): String =
    new String(b, off, 4, "US-ASCII")

  // ---------------------------------------------------------------- WAV

  /** Encode PCM 16-bit samples as a real RIFF/WAVE file: RIFF header,
    * canonical `fmt ` chunk (audio format 1 = PCM), `data` chunk with
    * little-endian samples. Interleaved frames for multi-channel.
    * Opens in any standards WAV reader (JDK AudioSystem round-trip is
    * pinned in the spec suite). */
  def encodeWavPcm16(sampleRate: Int, channels: Int,
      samples: Array[Short]): Array[Byte] = {
    require(sampleRate > 0 && channels > 0, s"bad wav params $sampleRate/$channels")
    require(samples.length % channels == 0,
      s"${samples.length} samples not a whole number of $channels-channel frames")
    val dataLen = samples.length * 2
    val blockAlign = channels * 2
    val out = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
    out.put("WAVE".getBytes("US-ASCII"))
    out.put("fmt ".getBytes("US-ASCII")).putInt(16)
    out.putShort(1.toShort)                       // PCM
    out.putShort(channels.toShort)
    out.putInt(sampleRate)
    out.putInt(sampleRate * blockAlign)           // byte rate
    out.putShort(blockAlign.toShort)
    out.putShort(16.toShort)                      // bits per sample
    out.put("data".getBytes("US-ASCII")).putInt(dataLen)
    samples.foreach(out.putShort)
    out.array()
  }

  /** Parse RIFF/WAVE metadata: chunk walk to `fmt ` and `data` (extra
    * chunks in between are skipped per spec, incl. odd-length padding).
    * nFrames = data bytes / block align. None on non-WAV/truncated. */
  def decodeWavMeta(bytes: Array[Byte]): Option[AudioMeta] = wavData(bytes).map(_._1)

  /** Full PCM16 sample decode (interleaved, little-endian). None on
    * anything [[decodeWavMeta]] rejects or a non-16-bit stream. */
  def decodeWavPcm16(bytes: Array[Byte]): Option[(AudioMeta, Array[Short])] =
    wavData(bytes).collect { case (meta, off, len) if meta.bitsPerSample == 16 =>
      val out = new Array[Short](len / 2)
      var k = 0
      while (k < out.length) { out(k) = le16(bytes, off + k * 2).toShort; k += 1 }
      (meta, out)
    }

  /** The RIFF chunk walk behind [[decodeWavMeta]]: the metadata plus the
    * `data` chunk's payload offset and length, which fits the payload. */
  private def wavData(bytes: Array[Byte]): Option[(AudioMeta, Int, Int)] = {
    if (bytes == null || bytes.length < 44) return None
    if (tag(bytes, 0) != "RIFF" || tag(bytes, 8) != "WAVE") return None
    var i = 12
    var meta: Option[(Int, Int, Int)] = None // rate, channels, bits
    while (i + 8 <= bytes.length) {
      val ct = tag(bytes, i)
      val len = le32(bytes, i + 4)
      if (len < 0 || len > bytes.length - i - 8) return None
      if (ct == "fmt ") {
        if (len < 16) return None
        val fmt = le16(bytes, i + 8)
        if (fmt != 1) return None // PCM only
        meta = Some((le32(bytes, i + 12), le16(bytes, i + 10), le16(bytes, i + 22)))
      } else if (ct == "data") {
        val (rate, ch, bits) = meta.getOrElse(return None)
        if (ch <= 0 || bits <= 0) return None
        val blockAlign = ch * (bits / 8)
        if (blockAlign <= 0) return None
        return Some((AudioMeta("wav", rate.toLong, ch.toLong, bits.toLong,
          (len / blockAlign).toLong), i + 8, len))
      }
      i += 8 + len + (len & 1) // RIFF chunks pad to even length
    }
    None
  }

  // ------------------------------------------------------------ MP4/BMFF

  private def beBytes(v: Int): Array[Byte] =
    Array[Byte]((v >>> 24).toByte, (v >>> 16).toByte, (v >>> 8).toByte, v.toByte)

  private def ascii(s: String): Array[Byte] = s.getBytes("US-ASCII")

  private def box(tp: String, payload: Array[Byte]*): Array[Byte] = {
    val len = 8 + payload.map(_.length).sum
    val out = new java.io.ByteArrayOutputStream()
    out.write(beBytes(len)); out.write(ascii(tp))
    payload.foreach(out.write)
    out.toByteArray
  }

  private def zeros32(n: Int): Array[Byte] = new Array[Byte](4 * n)

  private val ftyp = box("ftyp", ascii("isom"), beBytes(512), ascii("isom"), ascii("iso2"))

  /** `moov` of a one-track movie: a version-0 `mvhd` (timescale,
    * duration) and a `trak` holding `tkhd` (width × height as the
    * spec's 16.16 fixed point) followed by `trakTail` (the `mdia` box,
    * if any). */
  private def moov(width: Int, height: Int, timescale: Int, duration: Int,
      trakTail: Array[Byte]*): Array[Byte] = {
    // mvhd v0: ver/flags, ctime, mtime, timescale, duration, rate,
    // volume+reserved, 2×reserved, 9×matrix, 6×predefined, next_track_id
    val mvhd = box("mvhd", zeros32(3), beBytes(timescale), beBytes(duration),
      beBytes(0x00010000), beBytes(0x01000000), zeros32(2), zeros32(9), zeros32(6),
      beBytes(2))
    // tkhd v0: ver/flags(enabled), ctime, mtime, track_id, reserved,
    // duration, 2×reserved, layer+group, volume+reserved, 9×matrix,
    // width 16.16, height 16.16
    val tkhd = box("tkhd", beBytes(0x00000007), zeros32(2), beBytes(1), zeros32(1),
      beBytes(duration), zeros32(4), zeros32(9), beBytes(width << 16), beBytes(height << 16))
    box("moov", mvhd, box("trak", (tkhd +: trakTail): _*))
  }

  /** `mdia` of a video track: `mdhd`, `hdlr` (vide) and `minf/stbl`
    * with one minimal 86-byte VisualSampleEntry of codec `fourcc` in
    * `stsd` (all-zero codec fields — the table walk reads structure,
    * not pixel payloads), then `stts` (one run of `sampleDelta`),
    * `stss` (samples 1, 1+k, 1+2k, … for k = `syncEvery`), `stsz` and
    * the caller's chunk boxes. */
  private def videoMdia(fourcc: String, width: Int, height: Int, timescale: Int,
      sampleSizes: Seq[Int], sampleDelta: Int, syncEvery: Int,
      chunkBoxes: Array[Byte]*): Array[Byte] = {
    val n = sampleSizes.length
    val mdhd = box("mdhd", zeros32(3), beBytes(timescale), beBytes(n * sampleDelta),
      Array[Byte](0x55, 0xc4.toByte, 0, 0)) // language 'und' + predefined
    val hdlr = box("hdlr", zeros32(2), ascii("vide"), zeros32(3),
      Array[Byte](0)) // empty null-terminated name
    val entry = {
      val b = new java.io.ByteArrayOutputStream()
      b.write(beBytes(86)); b.write(ascii(fourcc))
      b.write(new Array[Byte](6)); b.write(Array[Byte](0, 1)) // data_ref_index 1
      b.write(new Array[Byte](16)) // predefined/reserved
      b.write(Array[Byte]((width >> 8).toByte, width.toByte,
        (height >> 8).toByte, height.toByte))
      b.write(beBytes(0x00480000)); b.write(beBytes(0x00480000)) // 72 dpi
      b.write(beBytes(0)); b.write(Array[Byte](0, 1)) // frame_count 1
      b.write(new Array[Byte](32)) // compressorname
      b.write(Array[Byte](0, 24)); b.write(Array[Byte](0xff.toByte, 0xff.toByte))
      b.toByteArray
    }
    val stsd = box("stsd", beBytes(0), beBytes(1), entry)
    val stts = box("stts", beBytes(0), beBytes(1), beBytes(n), beBytes(sampleDelta))
    val syncSamples = (1 to n by syncEvery).toArray
    val stss = box("stss", beBytes(0), beBytes(syncSamples.length),
      syncSamples.flatMap(beBytes))
    val stsz = box("stsz", beBytes(0), beBytes(0), beBytes(n),
      sampleSizes.toArray.flatMap(beBytes))
    val stbl = box("stbl", (Seq(stsd, stts, stss, stsz) ++ chunkBoxes): _*)
    box("mdia", mdhd, hdlr, box("minf", stbl))
  }

  /** Encode a minimal REAL ISO-BMFF (MP4) header: `ftyp` (isom) +
    * `moov` containing a version-0 `mvhd` (timescale, duration) and one
    * `trak`/`tkhd` carrying width × height as the spec's 16.16 fixed
    * point. Carries no media data — it is the moov metadata a container
    * scan reads, with spec-correct box sizes and nesting. */
  def encodeMp4Header(width: Int, height: Int, timescale: Int,
      duration: Int): Array[Byte] = {
    require(width > 0 && height > 0 && timescale > 0 && duration >= 0,
      s"bad mp4 params ${width}x$height $timescale/$duration")
    ftyp ++ moov(width, height, timescale, duration)
  }

  /** The BMFF preamble check and depth-first box walk every MP4 decoder
    * runs: false unless the first box is a well-formed ftyp/styp/moov.
    * Each box found is either descended into (a type in `containers`,
    * below `maxDepth`) or handed to `visit(type, boxStart, boxLen)`,
    * whose false stops the walk of that box's siblings. A box whose
    * size is below 8 or leaves its parent stops its level the same way. */
  private def walkBmff(bytes: Array[Byte], containers: Set[String], maxDepth: Int)(
      visit: (String, Int, Int) => Boolean): Boolean = {
    if (bytes == null || bytes.length < 16) return false
    val first = tag(bytes, 4)
    if (first != "ftyp" && first != "styp" && first != "moov") return false
    def walk(start: Int, end: Int, depth: Int): Unit = {
      var i = start
      while (i + 8 <= end) {
        val len = be32(bytes, i)
        if (len < 8 || len > end - i) return
        val tp = tag(bytes, i + 4)
        if (containers(tp) && depth < maxDepth) walk(i + 8, i + len, depth + 1)
        else if (!visit(tp, i, len)) return
        i += len
      }
    }
    walk(0, bytes.length, 0)
    true
  }

  private def u32(b: Array[Byte], off: Int): Long = be32(b, off).toLong & 0xffffffffL

  /** A full box's counted table (count at payload+4, entries of
    * `stride` bytes from payload+8), read with `entry(offset)`; None
    * when the count is negative or the entries leave the box. */
  private def table[T](b: Array[Byte], p: Int, boxEnd: Int, stride: Int)(
      entry: Int => T): Option[Seq[T]] = {
    val cnt = be32(b, p + 4)
    if (cnt < 0 || p + 8 + stride.toLong * cnt > boxEnd) None
    else Some((0 until cnt).map(k => entry(p + 8 + stride * k)))
  }

  /** `stsz` sample sizes — the uniform `sample_size` repeated, or the
    * per-sample list; None on a forged count. */
  private def stszSizes(b: Array[Byte], p: Int, boxEnd: Int): Option[Seq[Long]] = {
    val uniform = u32(b, p + 4)
    val cnt = be32(b, p + 8)
    // uniform-size tables carry no per-sample list to bound the
    // count against — cap it so a forged header cannot OOM
    if (cnt < 0 || cnt > (1 << 24)) None
    else if (uniform != 0) Some(Seq.fill(cnt)(uniform))
    else if (p + 12 + 4L * cnt > boxEnd) None
    else Some((0 until cnt).map(k => u32(b, p + 12 + 4 * k)))
  }

  private val stblPath = Set("moov", "trak", "mdia", "minf", "stbl")

  /** ISO-BMFF box walk: find `moov`, read `mvhd` timescale/duration
    * (version 0 or 1) and the first `trak`→`tkhd` width/height (16.16
    * fixed → integer part). duration_ms = duration · 1000 / timescale
    * in integer math. None for non-BMFF/truncated payloads. */
  def decodeMp4Meta(bytes: Array[Byte]): Option[VideoMeta] = {
    var ts = 0L; var dur = -1L; var w = -1L; var h = -1L
    val bmff = walkBmff(bytes, Set("moov", "trak"), 4) { (tp, i, len) =>
      tp match {
        case "mvhd" if len >= 32 =>
          val ver = bytes(i + 8) & 0xff
          if (ver == 1 && len >= 40) {
            // v1 payload: ver/flags(4) ctime(8) mtime(8) timescale(4)
            // duration(8) — timescale at i+28, 64-bit duration at i+32
            ts = u32(bytes, i + 28)
            dur = (u32(bytes, i + 32) << 32) | u32(bytes, i + 36)
          } else {
            ts = u32(bytes, i + 20)
            dur = u32(bytes, i + 24)
          }
        case "tkhd" if w < 0 && len >= 92 =>
          // width/height are the LAST 8 bytes of tkhd in both v0 and
          // v1 layouts (the v1 deltas are all before the matrix)
          val off = i + len - 8
          w = u32(bytes, off) >> 16
          h = u32(bytes, off + 4) >> 16
        case _ => ()
      }
      true
    }
    if (!bmff || ts <= 0 || dur < 0 || w <= 0 || h <= 0) None
    else Some(VideoMeta("mp4", w, h, dur * 1000L / ts, ts))
  }

  // ------------------------------------------- MP4 sample tables (stbl)

  /** The track's sample-table structure (ISO 14496-12 §8.6-8.7): per-
    * sample byte sizes (`stsz`), decode-time deltas as the stts
    * run-length pairs (sampleCount, delta), the 1-BASED sync-sample
    * (keyframe) numbers (`stss` — absent box = every sample is sync,
    * per spec), and the media timescale (`mdhd`). Everything real
    * frame sampling keys on: a keyframe's decode time is the sum of
    * deltas before it, its byte range comes from stsz. */
  final case class Mp4SampleTable(timescale: Long, sizes: Seq[Long],
      stts: Seq[(Long, Long)], sync: Seq[Long]) {
    def nSamples: Long = sizes.length.toLong
    def totalBytes: Long = sizes.sum
    /** Decode time (media-timescale units) of 1-based sample `n`:
      * Σ deltas of the samples before it, walked through the stts
      * run-length pairs. */
    def decodeTime(n: Long): Long = {
      var remaining = n - 1
      var t = 0L
      stts.foreach { case (cnt, delta) =>
        val take = math.min(cnt, math.max(0L, remaining))
        t += take * delta
        remaining -= take
      }
      t
    }
  }

  /** Encode a REAL ISO-BMFF header whose track carries a full sample
    * table: `moov/trak/mdia/{mdhd,hdlr,minf/stbl/{stsd,stts,stss,stsz,
    * stco}}` beside the usual mvhd/tkhd — spec-correct box sizes and
    * nesting, a minimal 86-byte `mp4v` VisualSampleEntry in stsd. Media
    * data is absent (header-only, like [[encodeMp4Header]]): the table
    * IS what container-level frame sampling reads. `syncEvery` marks
    * samples 1, 1+k, 1+2k, … as keyframes. */
  def encodeMp4WithSamples(width: Int, height: Int, timescale: Int,
      sampleSizes: Seq[Int], sampleDelta: Int, syncEvery: Int): Array[Byte] = {
    require(width > 0 && height > 0 && timescale > 0, "bad dims/timescale")
    require(sampleSizes.nonEmpty && sampleDelta > 0 && syncEvery > 0, "bad sample params")
    val stco = box("stco", beBytes(0), beBytes(0))
    ftyp ++ moov(width, height, timescale, sampleSizes.length * sampleDelta,
      videoMdia("mp4v", width, height, timescale, sampleSizes, sampleDelta, syncEvery, stco))
  }

  /** Walk `moov/trak/mdia` of a BMFF payload and read the FIRST video
    * track's sample table: mdhd timescale (v0 or v1), stts run-length
    * pairs, stss sync numbers (absent → all samples sync, per spec),
    * stsz (uniform `sample_size` or the per-sample list). None for
    * non-BMFF/truncated payloads or absent/oversized tables (counts are
    * bounded against the payload length BEFORE any allocation — a
    * forged header cannot OOM an executor). */
  def decodeMp4Samples(bytes: Array[Byte]): Option[Mp4SampleTable] = {
    var timescale = 0L
    var sizes: Seq[Long] = null
    var stts: Seq[(Long, Long)] = null
    var sync: Seq[Long] = null
    val bmff = walkBmff(bytes, stblPath, 8) { (tp, i, len) =>
      val p = i + 8
      tp match {
        case "mdhd" if timescale == 0 && len >= 32 =>
          val ver = bytes(p) & 0xff
          timescale = if (ver == 1 && len >= 36) u32(bytes, p + 20) else u32(bytes, p + 12)
          true
        case "stts" if stts == null && len >= 16 =>
          stts = table(bytes, p, i + len, 8)(o => (u32(bytes, o), u32(bytes, o + 4))).orNull
          stts != null
        case "stss" if sync == null && len >= 16 =>
          sync = table(bytes, p, i + len, 4)(u32(bytes, _)).orNull
          sync != null
        case "stsz" if sizes == null && len >= 20 =>
          sizes = stszSizes(bytes, p, i + len).orNull
          sizes != null
        case _ => true
      }
    }
    if (!bmff || timescale <= 0 || sizes == null || stts == null) None
    else {
      // absent stss = every sample is a sync sample (ISO 14496-12 §8.6.2)
      val sy = if (sync == null) (1L to sizes.length.toLong) else sync
      Some(Mp4SampleTable(timescale, sizes, stts, sy))
    }
  }

  /** Encode a REAL playable-layout ISO-BMFF whose track carries actual
    * MJPEG sample PAYLOADS: `ftyp` + `mdat` (the JPEG frames,
    * concatenated) + `moov` with the full sample table — per-sample
    * `stsz`, run-length `stsc` chunk mapping, ABSOLUTE `stco` chunk
    * offsets into the mdat, `stts` deltas and `stss` sync marks. mdat
    * precedes moov (the common layout) so chunk offsets are computed
    * without a moov-size fixpoint. `nChunks` splits the samples into
    * consecutive chunks (quotient/remainder sizing) to exercise real
    * multi-run stsc walks; the sample entry is `jpeg`, the registered
    * BMFF code for MJPEG tracks. */
  def encodeMp4Mjpeg(width: Int, height: Int, timescale: Int,
      sampleDelta: Int, syncEvery: Int, frames: Seq[Array[Byte]],
      nChunks: Int = 1): Array[Byte] = {
    require(width > 0 && height > 0 && timescale > 0, "bad dims/timescale")
    require(frames.nonEmpty && sampleDelta > 0 && syncEvery > 0, "bad sample params")
    require(nChunks >= 1 && nChunks <= frames.length, s"bad nChunks $nChunks")
    val n = frames.length
    val mdat = box("mdat", frames.toArray.flatten)
    // consecutive chunk sizing: the first (n % nChunks) chunks carry one
    // extra sample
    val base = n / nChunks; val extra = n % nChunks
    val chunkCounts = Array.tabulate(nChunks)(c => base + (if (c < extra) 1 else 0))
    // absolute chunk offsets into the file (mdat payload starts after
    // ftyp + the mdat box header)
    val sampleSizes = frames.map(_.length)
    val chunkOffsets = new Array[Int](nChunks)
    var si = 0; var off = ftyp.length + 8
    var c = 0
    while (c < nChunks) {
      chunkOffsets(c) = off
      var s = 0
      while (s < chunkCounts(c)) { off += sampleSizes(si); si += 1; s += 1 }
      c += 1
    }
    // stsc run-length encoding over the chunk sample counts
    val stscRuns = {
      val runs = Array.newBuilder[(Int, Int)] // (first_chunk 1-based, samples_per_chunk)
      var prev = -1
      var cc = 0
      while (cc < nChunks) {
        if (chunkCounts(cc) != prev) { runs += ((cc + 1, chunkCounts(cc))); prev = chunkCounts(cc) }
        cc += 1
      }
      runs.result()
    }
    val stsc = box("stsc", beBytes(0), beBytes(stscRuns.length),
      stscRuns.flatMap { case (fc, spc) => beBytes(fc) ++ beBytes(spc) ++ beBytes(1) })
    val stco = box("stco", beBytes(0), beBytes(nChunks), chunkOffsets.flatMap(beBytes))
    ftyp ++ mdat ++ moov(width, height, timescale, n * sampleDelta,
      videoMdia("jpeg", width, height, timescale, sampleSizes, sampleDelta, syncEvery,
        stsc, stco))
  }

  /** Resolve every sample's ABSOLUTE byte range — (offset, size), in
    * sample order — from the first track's `stsz` + `stsc` + `stco`
    * tables (ISO 14496-12 §8.7.4-5): chunk c's samples-per-chunk comes
    * from the stsc run covering c, samples lie consecutively inside
    * each chunk starting at its stco offset. This is the addressing a
    * real frame extractor seeks with; compose with [[decodeMp4Samples]]
    * for sync flags and decode times. None for non-BMFF payloads,
    * absent tables, or any range that leaves the payload (a forged
    * table cannot trigger an out-of-bounds slice). */
  def decodeMp4SampleRanges(bytes: Array[Byte]): Option[Seq[(Long, Long)]] = {
    var sizes: Seq[Long] = null
    var stsc: Seq[(Long, Long)] = null // (first_chunk, samples_per_chunk)
    var stco: Seq[Long] = null
    val bmff = walkBmff(bytes, stblPath, 8) { (tp, i, len) =>
      val p = i + 8
      tp match {
        case "stsz" if sizes == null && len >= 20 =>
          sizes = stszSizes(bytes, p, i + len).orNull
          sizes != null
        case "stsc" if stsc == null && len >= 16 =>
          stsc = table(bytes, p, i + len, 12)(o => (u32(bytes, o), u32(bytes, o + 4))).orNull
          stsc != null
        case "stco" if stco == null && len >= 16 =>
          stco = table(bytes, p, i + len, 4)(u32(bytes, _)).orNull
          stco != null
        case _ => true
      }
    }
    if (!bmff || sizes == null || stsc == null || stco == null) return None
    if (stsc.isEmpty || stco.isEmpty) return None
    val n = sizes.length
    val out = new Array[(Long, Long)](n)
    var si = 0
    var run = 0
    var chunk = 1L
    while (si < n && chunk <= stco.length) {
      // advance the stsc run when the next run's first_chunk is reached
      while (run + 1 < stsc.length && stsc(run + 1)._1 <= chunk) run += 1
      val spc = stsc(run)._2
      if (spc <= 0) return None
      var off = stco((chunk - 1).toInt)
      var s = 0L
      while (s < spc && si < n) {
        val sz = sizes(si)
        if (sz < 0 || off < 0 || off + sz > bytes.length) return None
        out(si) = (off, sz)
        off += sz
        si += 1; s += 1
      }
      chunk += 1
    }
    if (si < n) None else Some(out.toSeq)
  }

  /** 64-bit energy-envelope fingerprint of a PCM sample stream: the
    * samples split into 64 equal index windows (window w covers
    * [w·n/64, (w+1)·n/64) — pure integer index arithmetic), per-window
    * energy = Σ|sample|, and bit w = 1 iff 64·energy(w) ≥ Σenergy — the
    * same INTEGER mean-threshold discipline as `ImageCodec.aHash64`, so
    * the fingerprint is bit-replayable in any engine. Length-invariant
    * by construction (windows are fractions of the stream, not fixed
    * frame counts): the same motif at different durations lands within
    * a few bits, which is what makes it a near-dup key rather than a
    * byte hash. The audio member of the per-modality dedup family
    * (text MinHash/SimHash, image aHash, audio envelope). */
  def envelopeHash64(samples: Array[Short]): Long = {
    val n = samples.length
    require(n > 0, "empty sample stream")
    val energy = new Array[Long](64)
    var k = 0
    while (k < n) {
      energy((k.toLong * 64 / n).toInt) += math.abs(samples(k).toLong)
      k += 1
    }
    var total = 0L
    var w = 0
    while (w < 64) { total += energy(w); w += 1 }
    var bits = 0L
    w = 0
    while (w < 64) {
      if (64L * energy(w) >= total) bits |= (1L << w)
      w += 1
    }
    bits
  }
}
