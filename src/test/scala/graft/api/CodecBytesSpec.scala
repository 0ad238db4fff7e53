package graft.api

import org.scalatest.funsuite.AnyFunSuite

/** Pins the exact bytes the PNG, JPEG, MP4 and WAV encoders write for
  * fixed inputs, as SHA-256 digests. The round-trip specs accept any output
  * that decodes to the right pixels; these digests catch a change to
  * headers, table layout, filter choice, block order or rounding.
  * PNG digests cover every chunk's tag and payload with IDAT INFLATED,
  * so they do not depend on the JDK's zlib version.
  */
class CodecBytesSpec extends AnyFunSuite {

  private def sha256(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(b)
      .map(x => f"${x & 0xff}%02x").mkString

  /** Non-flat content: every block carries AC energy. */
  private def gray(w: Int, h: Int): Array[Int] =
    Array.tabulate(w * h) { k =>
      val x = k % w; val y = k / w
      (x * x * 3 + y * 17 + x * y * 5) % 256
    }

  private def rgb(w: Int, h: Int): Array[Int] =
    Array.tabulate(w * h) { k =>
      val x = k % w; val y = k / w
      val r = (x * 11 + y * 3) % 256
      val g = (x * y * 7 + 40) % 256
      val b = (255 - x * 5 - y * y) & 0xff
      (r << 16) | (g << 8) | b
    }

  /** Chunk tags and payloads in file order, IDAT inflated. */
  private def canonicalPng(png: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val idat = new java.io.ByteArrayOutputStream()
    var i = 8
    while (i + 8 <= png.length) {
      val len = java.nio.ByteBuffer.wrap(png, i, 4).getInt
      val tag = new String(png, i + 4, 4, "US-ASCII")
      if (tag == "IDAT") idat.write(png, i + 8, len)
      else {
        if (idat.size > 0) {
          val inf = new java.util.zip.InflaterInputStream(
            new java.io.ByteArrayInputStream(idat.toByteArray))
          out.write("IDAT".getBytes("US-ASCII")); out.write(inf.readAllBytes())
          idat.reset()
        }
        out.write(png, i + 4, 4 + len)
      }
      i += 12 + len
    }
    out.toByteArray
  }

  private def digests: Seq[(String, String)] = {
    val jpegGray = for ((w, h, q, ri) <- Seq((13, 11, 1, 0), (29, 17, 3, 2), (40, 9, 17, 5)))
      yield s"jpeg gray ${w}x$h q$q ri$ri" ->
        sha256(JpegCodec.encodeJpegGray(w, h, gray(w, h), quant = q, restartInterval = ri))
    val jpegColor = for ((w, h, q, sub, ri) <- Seq((21, 13, 1, true, 0),
        (19, 10, 2, false, 3), (35, 18, 4, true, 2)))
      yield s"jpeg color ${w}x$h q$q sub=$sub ri$ri" -> sha256(JpegCodec.encodeJpegColor(
        w, h, rgb(w, h), quant = q, chromaSubsample = sub, restartInterval = ri))
    val pal = Array(0x000000, 0xff8000, 0x12ab34, 0xfefefe, 0x0000ff)
    val png = Seq(
      "png gray 7x6" -> ImageCodec.encodePngGray(7, 6, gray(7, 6)),
      "png color 6x7" -> ImageCodec.encodePngColor(6, 7, rgb(6, 7)),
      "png pal 9x6" -> ImageCodec.encodePngPal(9, 6, pal,
        Array.tabulate(54)(k => (k * k + k / 9) % pal.length)))
      .map { case (name, bytes) => name -> sha256(canonicalPng(bytes)) }
    val frames = (0 until 7).map(f =>
      Array.tabulate(30 + f * 13)(k => ((f * 31 + k * 7) % 256).toByte))
    val media = Seq(
      "mp4 header 320x240" -> MediaCodec.encodeMp4Header(320, 240, 600, 1234),
      "mp4 samples 64x48" -> MediaCodec.encodeMp4WithSamples(64, 48, 90000,
        Seq(100, 2000, 35, 70000, 5), 3003, 2),
      "mp4 mjpeg 24x16 1 chunk" -> MediaCodec.encodeMp4Mjpeg(24, 16, 1000, 40, 3, frames, 1),
      "mp4 mjpeg 24x16 3 chunks" -> MediaCodec.encodeMp4Mjpeg(24, 16, 1000, 40, 3, frames, 3),
      "wav mono" -> MediaCodec.encodeWavPcm16(16000, 1,
        Array.tabulate(50)(k => (k * 1311 - 30000).toShort)),
      "wav stereo" -> MediaCodec.encodeWavPcm16(22050, 2,
        Array.tabulate(60)(k => (k * k * 17 - 20000).toShort)))
      .map { case (name, bytes) => name -> sha256(bytes) }
    jpegGray ++ jpegColor ++ png ++ media
  }

  test("encoder output bytes match the pinned digests") {
    val expected = Seq(
      "jpeg gray 13x11 q1 ri0" ->
        "f3925eaef17a3a94d43deb6213fd91f203591216f2581b2fb4e77e01cf68e0db",
      "jpeg gray 29x17 q3 ri2" ->
        "d83a58dbaa83c802d9fcd187c302052d84f7f9117d75558852c9fddfae37b1c6",
      "jpeg gray 40x9 q17 ri5" ->
        "90769998e773e45c90136c5a2b82a8ea715475e3117c04641ed42c2e26e61444",
      "jpeg color 21x13 q1 sub=true ri0" ->
        "bc1423cb31b4ca5fe220b351ad011a5a5467b19ae3b2c681ff33dba1815c4e66",
      "jpeg color 19x10 q2 sub=false ri3" ->
        "962cdfcd5455b4bd4595f0397575ef4ce4c39af574e0eb93948a8cfea0bf8778",
      "jpeg color 35x18 q4 sub=true ri2" ->
        "e65ac8d009401b3988001cd3b4e1ba3b0784091c63fb47253d6e846d047ec154",
      "png gray 7x6" ->
        "1a522aba96dd8a26faecbbafdd418d6ef7ddf27b90c139d8761dd60579344bb3",
      "png color 6x7" ->
        "f8df6d22cf7251bd93964e8019eb31b16cc06d67d0a0b5103b2bd1e8abe15a49",
      "png pal 9x6" ->
        "cc0d99d3d98217251df57e66f1eb3025f5dba045bb11245236c2228a1574d99d",
      "mp4 header 320x240" ->
        "07c1c0ef4cab554c726176266da8573c832731ab8465b6a6376177a1c629c402",
      "mp4 samples 64x48" ->
        "6c39b057d2fc1f65eb5c65d64f93d81d2caa7e3f6534cffbd0a59d635d74bdff",
      "mp4 mjpeg 24x16 1 chunk" ->
        "87cf5c92d4e61651e91ddd5f7a69a5c93b69be8378aff9e342a51f082801e59d",
      "mp4 mjpeg 24x16 3 chunks" ->
        "746f0c895bef6858ff5bf89058c2df9342269b51f026c935380753ad89d8b817",
      "wav mono" ->
        "e404335dc20569c07959f2a689b710d88d249e31c0b99125e52ea90af00ce5b6",
      "wav stereo" ->
        "f9d417b06b4812553b3f63739b972f9e52a3945637464aa21ecbde2ca84244f0")
    val got = digests
    assert(got == expected, got.map { case (n, d) => s"\"$n\" -> \"$d\"" }.mkString("\n", ",\n", ""))
  }
}
