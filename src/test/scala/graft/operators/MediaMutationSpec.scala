package graft.operators

import java.security.MessageDigest

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.operators.Multimodal._

/** Seeded mutations of every media wire format Multimodal encodes: each
  * intact payload, its truncations and its 1–4 bit flips go through
  * every public decoder and parser. No call may throw, and a SHA-256
  * over all outcomes (None, or the format, dimensions and a pixel,
  * sample or field digest) must equal the constant below: a decoder
  * that returns anything different on any input, or an encoder that
  * writes different bytes, changes it.
  */
class MediaMutationSpec extends AnyFunSuite with Matchers {

  private val Pinned =
    "50832b286c7a889fbd4077455e02af8e5493e6942b163f1e661eda4a88491908"

  private def pixHash(px: Array[Byte]): Int = java.util.Arrays.hashCode(px)

  private def raster(o: Option[RasterImage]): String = o.fold("-") { i =>
    s"${i.format},${i.width}x${i.height}x${i.channels},${pixHash(i.pixels)}"
  }

  /** Each public decoder's outcome on `c`, as one line per decoder. */
  private def outcomes(c: Array[Byte]): Seq[String] = Seq(
    parseImageHeader(c).toString,
    raster(decodeRasterPixels(c)),
    raster(decodeQoiPixels(c)),
    decodeGifFrames(c).fold("-") { a =>
      s"${a.width}x${a.height}:" + a.frames.map(f =>
        s"${f.delay_cs}/${f.disposal}/${pixHash(f.pixels)}").mkString(";")
    },
    parseWavHeader(c).toString,
    decodePcmSamples(c).fold("-") { a =>
      s"${a.sampleRate},${a.channels},${a.bitsPerSample}," +
        s"${a.samples.length},${java.util.Arrays.hashCode(a.samples)}"
    },
    parseWebp(c).toString,
    parseId3v2(c).toString,
    parseExifIfd0(c).toString,
    parseFlacStreamInfo(c).toString,
    parseMp3FrameHeader(c).toString)

  private def bytes(rnd: scala.util.Random, n: Int, levels: Int): Array[Byte] =
    Array.fill(n)(rnd.nextInt(levels).toByte)

  /** A payload per kind, built with Multimodal's own encoders from `rnd`. */
  private def corpus(rnd: scala.util.Random): Seq[(String, Array[Byte])] = {
    def dim(): Int = 1 + rnd.nextInt(12)
    def filters(): Int => Int = { val k = rnd.nextInt(5); y => (k + y) % 5 }
    val pal = Array.tabulate(256 * 3)(k => ((k / 3) * (1 + k % 3) * 37).toByte)
    val pal16 = pal.take(16 * 3)
    val (w, h) = (dim(), dim())
    Seq(
      "png-gray" -> encodePng(w, h, 1, bytes(rnd, w * h, 256), filters()),
      "png-rgb" -> encodePng(w, h, 3, bytes(rnd, w * h * 3, 256), filters()),
      "png-rgba" -> encodePng(w, h, 4, bytes(rnd, w * h * 4, 256), filters()),
      "png-palette" -> encodePngIndexed(w, h, pal16, bytes(rnd, w * h, 16), filters()),
      "png-16" -> encodePng16Gray(w, h, Array.fill(w * h)(rnd.nextInt(65536)), filters()),
      "png-adam7" -> encodePng(w, h, 1, bytes(rnd, w * h, 256), filters(), adam7 = true),
      "gif" -> encodeGif(w, h, pal16, bytes(rnd, w * h, 16)),
      "gif-anim" -> encodeGifAnim(w + 2, h + 2, pal16, bgIndex = rnd.nextInt(16), Seq(
        AnimFrameSpec(0, 0, w + 2, h + 2, rnd.nextInt(100), 2, -1,
          bytes(rnd, (w + 2) * (h + 2), 16)),
        AnimFrameSpec(1, 1, w, h, rnd.nextInt(100), rnd.nextInt(2), 0,
          bytes(rnd, w * h, 4)))),
      "bmp-rle8" -> encodeBmpRle8(w, h, pal16, bytes(rnd, w * h, 3),
        r => (r + w) % 2 == 0),
      "qoi" -> encodeQoi(RasterImage("qoi", w, h, 3, bytes(rnd, w * h * 3, 4))),
      "qoi-rgba" -> encodeQoi(RasterImage("qoi", w, h, 4, bytes(rnd, w * h * 4, 256))),
      "tiff-ii" -> encodeTiff(little = true, w, h, 1, bytes(rnd, w * h, 256),
        rowsPerStrip = 1 + rnd.nextInt(h)),
      "tiff-mm" -> encodeTiff(little = false, w, h, 3, bytes(rnd, w * h * 3, 256),
        rowsPerStrip = 1 + rnd.nextInt(h)),
      "pgm" -> (s"P5\n$w $h\n255\n".getBytes("ISO-8859-1") ++ bytes(rnd, w * h, 256)),
      "ppm-ascii" -> (s"P3\n# c\n$w $h\n255\n" +
        bytes(rnd, w * h * 3, 256).map(_ & 0xff).mkString(" ")).getBytes("ISO-8859-1"),
      "wav-pcm16" -> buildPcm16Wav(Array.fill(w * h)(rnd.nextInt(65536) - 32768), 8000),
      "wav-stereo" -> buildPcm16StereoWav(Array.fill(w)(rnd.nextInt(4096) - 2048),
        Array.fill(w)(rnd.nextInt(4096) - 2048), 22050),
      "wav-ulaw" -> buildG711Wav(bytes(rnd, w * h, 256), 8000, aLaw = false),
      "wav-alaw" -> buildG711Wav(bytes(rnd, w * h, 256), 8000, aLaw = true),
      "webp-vp8" -> encodeWebp("VP8 ", 1 + rnd.nextInt(16383), 1 + rnd.nextInt(16383)),
      "webp-vp8l" -> encodeWebp("VP8L", 1 + rnd.nextInt(16384), 1 + rnd.nextInt(16384)),
      "webp-vp8x" -> encodeWebp("VP8X", 1 + rnd.nextInt(1 << 24), 1 + rnd.nextInt(1 << 24)),
      "id3v23" -> encodeId3v2(3, "t" * dim(), "a" * dim(), "b" * dim()),
      "id3v24" -> encodeId3v2(4, "t" * dim(), "a" * dim(), "b" * dim()),
      "exif-ii" -> encodeExifIfd0(little = true, rnd.nextInt(1 << 16), rnd.nextInt(1 << 16),
        1 + rnd.nextInt(8)),
      "exif-mm" -> encodeExifIfd0(little = false, rnd.nextInt(1 << 16), rnd.nextInt(1 << 16),
        1 + rnd.nextInt(8)))
  }

  private def mutate(base: Array[Byte], rnd: scala.util.Random): Array[Byte] =
    if (rnd.nextBoolean()) base.take(rnd.nextInt(base.length))
    else {
      val out = base.clone()
      for (_ <- 0 until 1 + rnd.nextInt(4)) {
        val i = rnd.nextInt(out.length)
        out(i) = (out(i) ^ (1 << rnd.nextInt(8))).toByte
      }
      out
    }

  test("every decoder gives the pinned outcomes on seeded mutations and never throws") {
    val rnd = new scala.util.Random(20261020L)
    val sha = MessageDigest.getInstance("SHA-256")
    var inputs, decoded = 0
    for (round <- 0 until 100; (kind, base) <- corpus(rnd)) {
      withClue(s"intact $kind (round $round): ") {
        decodeRasterPixels(base).isDefined || kind.startsWith("wav") ||
          kind.startsWith("webp") || kind.startsWith("id3") ||
          kind.startsWith("exif") shouldBe true
      }
      for (m <- 0 to 100) {
        val c = if (m == 0) base else mutate(base, rnd)
        val out =
          try outcomes(c)
          catch {
            case e: Throwable =>
              fail(s"$kind round $round mutation $m (${c.length} bytes) threw", e)
          }
        inputs += 1
        if (out.exists(o => o != "-" && o != "None")) decoded += 1
        sha.update(s"$kind/$round/$m:${out.mkString("|")}\n".getBytes("UTF-8"))
      }
    }
    val digest = sha.digest().map(b => f"${b & 0xff}%02x").mkString
    info(s"$inputs inputs, $decoded decoded by at least one decoder, sha256 $digest")
    decoded should be > inputs / 4
    digest shouldBe Pinned
  }
}
