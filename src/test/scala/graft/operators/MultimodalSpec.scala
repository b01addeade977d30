package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.{SparkEntry, SparkSpec}
import graft.operators.Multimodal.{MediaFeatures, MediaRow}

class MultimodalSpec extends AnyFunSuite with Matchers with SparkSpec {

  private def rows = {
    import spark.implicits._
    Seq(
      MediaRow(1, "image", Array[Byte](1, 2, 3, 4, 5, 6, 7, 8)),
      MediaRow(2, "audio", Array[Byte](-1, -2, -3)),
      MediaRow(3, "image", Array.emptyByteArray)).toDS()
  }

  test("corpus is single-byte: the m02/m03/m04 byte-vs-char oracle premise") {
    import org.apache.spark.sql.{functions => F}
    // the operators slice text CAST TO BINARY (byte offsets) while the
    // DuckDB oracles slice VARCHAR (character offsets) — they agree only
    // while every document is pure single-byte text. Assert it, so a
    // future non-ASCII documents table fails HERE instead of silently
    // forking the gate (see the oracle-side note in SparkEntry).
    for (sf <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val multiByte = graft.Tables.documents(spark, sf)
        .filter(F.octet_length(F.col("text")) =!= F.length(F.col("text"))).count()
      withClue(s"$sf: ") { multiByte shouldBe 0L }
    }
  }

  test("decodeStub is deterministic and per-partition (schema + values)") {
    val feats = Multimodal.decodeStub(rows).collect().sortBy(_.media_id)
    feats.map(_.media_id) shouldBe Array(1L, 2L, 3L)
    feats.foreach { f =>
      f.width should be >= 1
      f.height should be >= 1
    }
    feats(2).n_bytes shouldBe 0
    // same input → same checksum on re-run (deterministic fake decode)
    val again = Multimodal.decodeStub(rows).collect().sortBy(_.media_id)
    again.map(_.checksum) shouldBe feats.map(_.checksum)
  }

  test("frameSample slices fixed-size frames at stride as pure Catalyst ops") {
    import spark.implicits._
    val df = rows.toDF()
    val sampled = Multimodal.frameSample(df, frameSize = 2, stride = 3)
      .select($"media_id", $"frames").collect()
      .map(r => r.getLong(0) ->
        r.getAs[scala.collection.Seq[Array[Byte]]](1).map(_.toSeq)).toMap
    // 8 bytes, frames of 2 every 3: positions 1,4,7 → [1,2],[4,5],[7,8]
    sampled(1L) shouldBe Seq(Seq[Byte](1, 2), Seq[Byte](4, 5), Seq[Byte](7, 8))
    sampled(3L) shouldBe Seq.empty // empty payload → empty frame list
  }

  test("resizeMeta preserves aspect ratio within the bounding box") {
    val feats = Multimodal.decodeStub(rows)
    val resized = Multimodal.resizeMeta(feats, maxW = 640, maxH = 480).collect()
    resized.foreach { r =>
      val (w, h) = (r.getAs[Int]("out_w"), r.getAs[Int]("out_h"))
      w should be <= 640
      h should be <= 480
      w should be >= 1
      h should be >= 1
      val (ow, oh) = (r.getAs[Int]("width"), r.getAs[Int]("height"))
      if (ow <= 640 && oh <= 480) { w shouldBe ow; h shouldBe oh } // no upscale
    }
  }

  test("exact-duplicate payloads always surface as media near-dup pairs") {
    import org.apache.spark.sql.functions._
    // sf0.1 has 8 planted exact-dup groups; identical payloads share
    // EVERY frame hash, so each dup pair long enough to yield minShared
    // frames (>= 64 + 2*48 bytes for 3 frames at the default slicing)
    // must appear in m03's output
    val sf = "/root/testdata/sf0.1"
    val dupPairs = Dedup.exact(spark, sf).filter(col("n_copies") >= 2)
      .join(graft.Tables.documents(spark, sf)
          .filter(org.apache.spark.sql.functions.length(col("text")) >= 64 + 2 * 48)
          .select(col("doc_id"), md5(col("text").cast("binary")).as("content_hash")),
        "content_hash")
      .filter(col("doc_id") =!= col("keep_id"))
      .select(least(col("doc_id"), col("keep_id")).as("a"),
        greatest(col("doc_id"), col("keep_id")).as("b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    dupPairs.nonEmpty shouldBe true // functions.not shadows Matchers' not here
    val reported = Multimodal.mediaNearDup(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    withClue("exact-dup pairs missing from mediaNearDup: ") {
      (dupPairs -- reported) shouldBe empty
    }
    graft.Caches.releaseAll(spark)
  }

  test("mediaMeta: format dispatch by branch, png/pgm pixel-checksum parity, stub sentinels") {
    val rows = Multimodal.mediaMeta(spark, "/root/testdata/sf0.001").collect()
    rows should not be empty
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val fmt = r.getAs[String]("format")
      id % 3 match {
        case 0 =>
          fmt shouldBe "pgm"
          r.getAs[Int]("width") shouldBe 8
          r.getAs[Int]("channels") shouldBe 1
        case 1 =>
          fmt shouldBe "png"
          r.getAs[Int]("height") shouldBe 8
          r.getAs[Int]("channels") shouldBe 1
        case _ =>
          fmt shouldBe "stub"
          r.getAs[Int]("width") shouldBe -1
          r.getAs[Int]("channels") shouldBe -1
      }
    }
    // the compression-invariance claim directly: the SAME content
    // through the PGM and PNG encoders fingerprints identically
    import spark.implicits._
    val px = "The quick brown fox jumps over the lazy dog - 64 bytes padding!!"
    px.length shouldBe 64
    val twin = Seq(
      Multimodal.MediaRow(0L, "image",
        ("P5\n8 8\n255\n" + px).getBytes("ISO-8859-1")),
      Multimodal.MediaRow(1L, "image",
        Multimodal.encodePng(8, 8, 1, px.getBytes("ISO-8859-1"), y => y % 5)))
      .toDS()
    val f = Multimodal.rasterFeatures(twin).collect().sortBy(_.media_id)
    f(0).format shouldBe "pgm"
    f(1).format shouldBe "png"
    f(0).pixel_checksum shouldBe f(1).pixel_checksum
  }

  test("frameDf equals the shared-frame recomputation from frameHashes") {
    val sf = "/root/testdata/sf0.001"
    val got = Multimodal.frameDf(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    got should not be empty
    // recompute from the m02 output: df = distinct docs per hash,
    // occurrences = total rows per hash, restricted to df >= 2
    val frames = Multimodal.frameHashes(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(2)))
    val expect = frames.groupBy(_._2).view
      .mapValues(v => (v.map(_._1).distinct.length.toLong, v.length.toLong))
      .filter(_._2._1 >= 2).toMap
    got shouldBe expect
    // every near-dup pair's shared evidence lives in frameDf's head
    val pairsShared = Multimodal.mediaNearDup(spark, sf).collect()
    pairsShared.foreach(p => p.getLong(2) should be >= 3L)
  }

  // ---- the round-7 REAL decode slice: golden header fixtures ----

  /** A minimal well-formed BMP: 14-byte file header + 40-byte
    * BITMAPINFOHEADER, no pixel data needed for the header parse.
    */
  private def bmpBytes(w: Int, h: Int, bits: Int): Array[Byte] = {
    val b = new Array[Byte](54)
    def le32(off: Int, v: Int): Unit = {
      b(off) = v.toByte; b(off + 1) = (v >> 8).toByte
      b(off + 2) = (v >> 16).toByte; b(off + 3) = (v >> 24).toByte
    }
    b(0) = 'B'.toByte; b(1) = 'M'.toByte
    le32(2, 54); le32(10, 54) // file size, pixel offset (unchecked)
    le32(14, 40) // biSize = BITMAPINFOHEADER
    le32(18, w); le32(22, h)
    b(26) = 1 // planes
    b(28) = bits.toByte; b(29) = (bits >> 8).toByte
    b
  }

  test("parseImageHeader decodes BMP headers for real (incl. top-down and paletted)") {
    Multimodal.parseImageHeader(bmpBytes(640, 480, 24)) shouldBe
      Some(("bmp", 640, 480, 3))
    Multimodal.parseImageHeader(bmpBytes(1920, 1080, 32)) shouldBe
      Some(("bmp", 1920, 1080, 4))
    // negative height = top-down row order; dimensions are |height|
    Multimodal.parseImageHeader(bmpBytes(16, -9, 24)) shouldBe
      Some(("bmp", 16, 9, 3))
    // 8-bit paletted: one channel of palette indices
    Multimodal.parseImageHeader(bmpBytes(5, 7, 8)) shouldBe
      Some(("bmp", 5, 7, 1))
    // 16-bit RGB555/565: three COLOR channels in two bytes per pixel
    Multimodal.parseImageHeader(bmpBytes(8, 8, 16)) shouldBe
      Some(("bmp", 8, 8, 3))
    // malformed: zero width, absurd width, bogus bit depth, truncation
    Multimodal.parseImageHeader(bmpBytes(0, 9, 24)) shouldBe None
    Multimodal.parseImageHeader(bmpBytes(1 << 21, 9, 24)) shouldBe None
    Multimodal.parseImageHeader(bmpBytes(16, 9, 13)) shouldBe None
    Multimodal.parseImageHeader(bmpBytes(16, 9, 24).take(30)) shouldBe None
  }

  test("parseImageHeader decodes Netpbm headers for real (P6/P5 with comments)") {
    def ascii(s: String) = s.getBytes("US-ASCII")
    Multimodal.parseImageHeader(ascii("P6\n320 200\n255\n")) shouldBe
      Some(("ppm", 320, 200, 3))
    Multimodal.parseImageHeader(
      ascii("P6\n# a comment line\n12 34\n# another\n65535\n")) shouldBe
      Some(("ppm", 12, 34, 3))
    Multimodal.parseImageHeader(ascii("P5 7 9 255 ")) shouldBe
      Some(("pgm", 7, 9, 1))
    Multimodal.parseImageHeader(ascii("P3\n2 2\n255\n0 0 0")) shouldBe
      Some(("ppm", 2, 2, 3))
    Multimodal.parseImageHeader(ascii("P2\n1 1\n255\n0")) shouldBe
      Some(("pgm", 1, 1, 1))
    // malformed: non-digit in a number, missing maxval, maxval 0, P4,
    // and no whitespace after the magic (the spec requires it — "P63"
    // must not parse as P6 + width 3)
    Multimodal.parseImageHeader(ascii("P6\n12a 34\n255\n")) shouldBe None
    Multimodal.parseImageHeader(ascii("P6\n12 34\n")) shouldBe None
    Multimodal.parseImageHeader(ascii("P6\n12 34\n0\n")) shouldBe None
    Multimodal.parseImageHeader(ascii("P4\n12 34\n")) shouldBe None
    Multimodal.parseImageHeader(ascii("P63 4 255 ")) shouldBe None
  }

  // ---- round-10 REAL pixel decode: full-file raster fixtures ----

  /** A complete 24-bit BI_RGB BMP: header + pixel rows in the given
    * scanline order (bottomUp mirrors the pixels into file order; rows
    * are 4-byte padded). `pixels` is the CANONICAL top-down row-major
    * RGB array the decoder must reproduce.
    */
  private def bmp24File(w: Int, h: Int, pixels: Array[Byte],
      bottomUp: Boolean = true): Array[Byte] = {
    require(pixels.length == w * h * 3)
    val stride = (w * 3 + 3) / 4 * 4
    val b = new Array[Byte](54 + stride * h)
    def le32(off: Int, v: Int): Unit = {
      b(off) = v.toByte; b(off + 1) = (v >> 8).toByte
      b(off + 2) = (v >> 16).toByte; b(off + 3) = (v >> 24).toByte
    }
    b(0) = 'B'.toByte; b(1) = 'M'.toByte
    le32(2, b.length); le32(10, 54)
    le32(14, 40); le32(18, w); le32(22, if (bottomUp) h else -h)
    b(26) = 1; b(28) = 24
    for (y <- 0 until h; x <- 0 until w) {
      val src = (y * w + x) * 3 // canonical top-down RGB
      val fileRow = if (bottomUp) h - 1 - y else y
      val dst = 54 + fileRow * stride + x * 3
      b(dst) = pixels(src + 2) // stored BGR
      b(dst + 1) = pixels(src + 1)
      b(dst + 2) = pixels(src)
    }
    b
  }

  /** A complete 8-bit paletted BI_RGB BMP: 256-entry BGRX color table
    * right after the info header, then padded index rows.
    */
  private def bmp8File(w: Int, h: Int, indices: Array[Byte],
      palette: Array[(Int, Int, Int)]): Array[Byte] = {
    require(indices.length == w * h)
    val stride = (w + 3) / 4 * 4
    val palOff = 54
    val dataOff = palOff + 4 * 256
    val b = new Array[Byte](dataOff + stride * h)
    def le32(off: Int, v: Int): Unit = {
      b(off) = v.toByte; b(off + 1) = (v >> 8).toByte
      b(off + 2) = (v >> 16).toByte; b(off + 3) = (v >> 24).toByte
    }
    b(0) = 'B'.toByte; b(1) = 'M'.toByte
    le32(2, b.length); le32(10, dataOff)
    le32(14, 40); le32(18, w); le32(22, h) // bottom-up
    b(26) = 1; b(28) = 8
    palette.zipWithIndex.foreach { case ((r, g, bl), i) =>
      b(palOff + i * 4) = bl.toByte // BGRX quads
      b(palOff + i * 4 + 1) = g.toByte
      b(palOff + i * 4 + 2) = r.toByte
    }
    for (y <- 0 until h; x <- 0 until w)
      b(dataOff + (h - 1 - y) * stride + x) = indices(y * w + x)
    b
  }

  test("decodeRasterPixels: 24-bit BMP — golden pixels, bottom-up == top-down") {
    // 2x2: red green / blue white in canonical top-down RGB
    val px = Array(255, 0, 0, 0, 255, 0, 0, 0, 255, 255, 255, 255)
      .map(_.toByte)
    val up = Multimodal.decodeRasterPixels(bmp24File(2, 2, px)).get
    up.format shouldBe "bmp"
    (up.width, up.height, up.channels) shouldBe ((2, 2, 3))
    up.pixels.toSeq shouldBe px.toSeq
    // a top-down file with the SAME image decodes byte-identically
    val down = Multimodal.decodeRasterPixels(
      bmp24File(2, 2, px, bottomUp = false)).get
    down.pixels.toSeq shouldBe px.toSeq
    // 3-wide exercises the 4-byte row padding (stride 12 for w=3... 9+3)
    val px3 = Array.tabulate(3 * 2 * 3)(i => (i * 7 % 251).toByte)
    val wide = Multimodal.decodeRasterPixels(bmp24File(3, 2, px3)).get
    wide.pixels.toSeq shouldBe px3.toSeq
  }

  test("decodeRasterPixels: 8-bit paletted BMP expands the color table") {
    val palette = Array.tabulate(256)(i => (i, 255 - i, i / 2))
    val idx = Array[Byte](0, 1, 2, 127.toByte, 128.toByte, 255.toByte)
    val img = Multimodal.decodeRasterPixels(bmp8File(3, 2, idx, palette)).get
    (img.width, img.height, img.channels) shouldBe ((3, 2, 3))
    val expect = idx.flatMap { i =>
      val (r, g, b) = palette(i & 0xff)
      Array(r.toByte, g.toByte, b.toByte)
    }
    img.pixels.toSeq shouldBe expect.toSeq
  }

  test("decodeRasterPixels: binary P6/P5 — golden pixels, maxval honored") {
    val hdr = "P6\n# c\n2 2\n255\n".getBytes("US-ASCII")
    val px = Array.tabulate(12)(i => (i * 11 % 250).toByte)
    val img = Multimodal.decodeRasterPixels(hdr ++ px).get
    (img.format, img.width, img.height, img.channels) shouldBe
      (("ppm", 2, 2, 3))
    img.pixels.toSeq shouldBe px.toSeq
    // PGM P5
    val g = Multimodal.decodeRasterPixels(
      "P5 3 1 255 ".getBytes("US-ASCII") ++ Array[Byte](9, 99, 199.toByte)).get
    (g.format, g.channels) shouldBe (("pgm", 1))
    g.pixels.toSeq shouldBe Seq[Byte](9, 99, 199.toByte)
    // a sample above the declared maxval is malformed
    Multimodal.decodeRasterPixels(
      "P5 1 1 100 ".getBytes("US-ASCII") ++ Array[Byte](101)) shouldBe None
    // truncated raster is malformed
    Multimodal.decodeRasterPixels(hdr ++ px.take(11)) shouldBe None
    // 16-bit samples (maxval > 255) are out of the pixel slice
    Multimodal.decodeRasterPixels(
      "P6\n1 1\n65535\n".getBytes("US-ASCII") ++ Array[Byte](0, 0, 0, 0, 0, 0)) shouldBe None
  }

  test("decodeRasterPixels: ASCII P3/P2 decode to the same canonical bytes") {
    val ascii = Multimodal.decodeRasterPixels(
      "P3\n2 1\n255\n255 0 0  0 128 255\n".getBytes("US-ASCII")).get
    ascii.pixels.toSeq shouldBe
      Seq(255.toByte, 0, 0, 0, 128.toByte, 255.toByte)
    // the SAME image as binary P6 fingerprints identically
    val bin = Multimodal.decodeRasterPixels(
      "P6\n2 1\n255\n".getBytes("US-ASCII") ++
        Array(255, 0, 0, 0, 128, 255).map(_.toByte)).get
    bin.pixels.toSeq shouldBe ascii.pixels.toSeq
    val p2 = Multimodal.decodeRasterPixels(
      "P2\n# g\n3 1\n99\n0 50 99\n".getBytes("US-ASCII")).get
    (p2.format, p2.channels) shouldBe (("pgm", 1))
    p2.pixels.toSeq shouldBe Seq[Byte](0, 50, 99)
    // ASCII sample above maxval / short raster are malformed
    Multimodal.decodeRasterPixels(
      "P2\n1 1\n99\n100\n".getBytes("US-ASCII")) shouldBe None
    Multimodal.decodeRasterPixels(
      "P3\n2 1\n255\n255 0 0\n".getBytes("US-ASCII")) shouldBe None
  }

  test("rasterFeatures: same image, four encodings, one pixel_checksum") {
    import spark.implicits._
    val px = Array(255, 0, 0, 0, 255, 0, 0, 0, 255, 7, 8, 9).map(_.toByte)
    val p6 = "P6\n2 2\n255\n".getBytes("US-ASCII") ++ px
    val p3 = ("P3\n2 2\n255\n" +
      px.map(b => (b & 0xff).toString).mkString(" ") + "\n").getBytes("US-ASCII")
    val rows = Seq(
      MediaRow(1, "image", bmp24File(2, 2, px)),
      MediaRow(2, "image", bmp24File(2, 2, px, bottomUp = false)),
      MediaRow(3, "image", p6),
      MediaRow(4, "image", p3),
      MediaRow(5, "image", Array[Byte](1, 2, 3))).toDS()
    val out = Multimodal.rasterFeatures(rows).collect().sortBy(_.media_id)
    out.map(_.format).toSeq shouldBe Seq("bmp", "bmp", "ppm", "ppm", "stub")
    // all four REAL decodes share the canonical-pixel checksum
    out.take(4).map(_.pixel_checksum).distinct.length shouldBe 1
    out(4).width shouldBe -1
    // content-duplicate pairs: all pairs among 1..4, never the stub
    val pairs = Multimodal.rasterDupPairs(Multimodal.rasterFeatures(rows))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    pairs.toSeq shouldBe
      Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
  }

  test("resizeRaster: decimation/replication goldens, identity, channels") {
    import Multimodal.RasterImage
    // 4x4 gray ramp 0..15: 2x2 decimation picks sources (0,0) (0,2)
    // (2,0) (2,2) — the canonical (x*w/outW, y*h/outH) convention
    val ramp = RasterImage("pgm", 4, 4, 1, Array.tabulate(16)(_.toByte))
    Multimodal.resizeRaster(ramp, 2, 2).pixels.toSeq shouldBe
      Seq[Byte](0, 2, 8, 10)
    // identity resize is a byte-exact copy
    Multimodal.resizeRaster(ramp, 4, 4).pixels.toSeq shouldBe ramp.pixels.toSeq
    // 2x2 up to 4x4 replicates each source pixel into a 2x2 block
    val small = RasterImage("pgm", 2, 2, 1, Array[Byte](1, 2, 3, 4))
    Multimodal.resizeRaster(small, 4, 4).pixels.toSeq shouldBe
      Seq[Byte](1, 1, 2, 2, 1, 1, 2, 2, 3, 3, 4, 4, 3, 3, 4, 4)
    // non-square target: 4x4 -> 4x2 keeps every column, rows 0 and 2
    Multimodal.resizeRaster(ramp, 4, 2).pixels.toSeq shouldBe
      Seq[Byte](0, 1, 2, 3, 8, 9, 10, 11)
    // RGB: all three channel bytes of the sampled pixel ride along
    val rgb = RasterImage("ppm", 2, 1, 3, Array[Byte](10, 20, 30, 40, 50, 60))
    Multimodal.resizeRaster(rgb, 1, 1).pixels.toSeq shouldBe
      Seq[Byte](10, 20, 30)
    // convention agreement with perceptualHashes: hashing the 8x8
    // resize equals hashing the original — both sample (g*dim/8), so
    // resize-to-grid and the hash's own grid walk are the same pass
    val via = Multimodal.resizeRaster(ramp, 8, 8)
    Multimodal.perceptualHashes(via) shouldBe Multimodal.perceptualHashes(ramp)
    // the buffer bound caps the PRODUCT: each axis legal, 4-channel
    // 16384x16384 would be ~1 GiB — refused, not allocated
    val rgba = RasterImage("png", 2, 2, 4, new Array[Byte](16))
    an[IllegalArgumentException] should be thrownBy
      Multimodal.resizeRaster(rgba, 16384, 16384)
    // and a target inside the bound still works at 4 channels
    Multimodal.resizeRaster(rgba, 4, 4).pixels.length shouldBe 64
  }

  test("resizedFeatures: real decodes resize+checksum, stubs carry sentinels") {
    import spark.implicits._
    val px = Array.tabulate(16)(i => (i * 16).toByte)
    val p5 = "P5\n4 4\n255\n".getBytes("US-ASCII") ++ px
    val rows = Seq(
      MediaRow(1, "image", p5),
      MediaRow(2, "image", Array[Byte](1, 2, 3))).toDS()
    val out = Multimodal.resizedFeatures(rows, 2, 2).collect().sortBy(_.media_id)
    out(0).format shouldBe "pgm"
    (out(0).src_w, out(0).src_h, out(0).out_w, out(0).out_h) shouldBe ((4, 4, 2, 2))
    // rolling checksum of the decimated array, recomputed from scratch
    val expect = Seq(0, 2, 8, 10).map(i => px(i) & 0xff)
      .foldLeft(0L)((acc, v) => (acc * 31 + v) % 1000000007L)
    out(0).resized_checksum shouldBe expect
    // the stub never pretends to have resized pixels
    (out(1).format, out(1).resized_checksum) shouldBe (("stub", -1L))
  }

  test("perceptualHashes: analytic goldens, scale- and encoding-invariance") {
    import Multimodal.RasterImage
    // uniform gray: every aHash cell >= mean -> all 64 bits set; no
    // gradient anywhere -> dHash 0
    val flat = RasterImage("pgm", 8, 8, 1, Array.fill(64)(100.toByte))
    Multimodal.perceptualHashes(flat) shouldBe ((-1L, 0L))
    // strict left-to-right ramp: every dHash gradient fires -> all
    // bits set; aHash splits at the mean (right half >= mean)
    val ramp = RasterImage("pgm", 9, 8, 1,
      Array.tabulate(72)(i => (i % 9 * 28).toByte))
    val (aRamp, dRamp) = Multimodal.perceptualHashes(ramp)
    dRamp shouldBe -1L
    java.lang.Long.bitCount(aRamp) shouldBe 32 // half the cells >= mean
    // nearest-neighbor invariance: the same image pixel-doubled to
    // 2x size hashes identically (sample points land on the copies)
    val small = RasterImage("pgm", 8, 8, 1,
      Array.tabulate(64)(i => (i * 37 % 251).toByte))
    val big = RasterImage("pgm", 16, 16, 1,
      Array.tabulate(256) { i =>
        val (x, y) = (i % 16, i / 16)
        small.pixels((y / 2) * 8 + x / 2)
      })
    Multimodal.perceptualHashes(big) shouldBe Multimodal.perceptualHashes(small)
    // encoding invariance rides the canonical pixel array: the same
    // RGB image as BMP and binary PPM decodes to identical hashes
    val px = Array.tabulate(2 * 2 * 3)(i => (i * 41 % 247).toByte)
    val viaBmp = Multimodal.decodeRasterPixels(bmp24File(2, 2, px)).get
    val viaPpm = Multimodal.decodeRasterPixels(
      "P6\n2 2\n255\n".getBytes("US-ASCII") ++ px).get
    Multimodal.perceptualHashes(viaBmp) shouldBe
      Multimodal.perceptualHashes(viaPpm)
  }

  test("perceptualNearDup: banded Hamming join finds <=k pairs, not more") {
    import spark.implicits._
    import Multimodal.PerceptualRow
    val base = 0x0123456789abcdefL
    def flip(h: Long, bits: Int*): Long = bits.foldLeft(h)((x, b) => x ^ (1L << b))
    val rows = Seq(
      PerceptualRow(1, "image", "bmp", 8, 8, 0L, base),
      PerceptualRow(2, "image", "bmp", 8, 8, 0L, flip(base, 3, 17, 42)), // d=3
      PerceptualRow(3, "image", "ppm", 8, 8, 0L,
        flip(base, 1, 9, 18, 27, 36, 45, 54)), // d=7 from row 1: excluded
      PerceptualRow(4, "image", "stub", -1, -1, -1L, -1L), // never pairs
      PerceptualRow(5, "image", "pgm", 8, 8, 0L, base)) // d=0 duplicate
      .toDS()
    val got = Multimodal.perceptualNearDup(rows, maxBits = 6).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted
    got.toSeq shouldBe Seq((1L, 2L, 3), (1L, 5L, 0), (2L, 5L, 3))
    // d=7 surfaces once the threshold admits it
    val wide = Multimodal.perceptualNearDup(rows, maxBits = 7).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted
    wide.toSeq should contain((1L, 3L))
  }

  /** A minimal well-formed PNG prefix: 8-byte signature + IHDR chunk
    * (length, tag, 13 data bytes, 4 CRC bytes — CRC unchecked by the
    * fixed-offset parse, zeroed here).
    */
  private def pngBytes(w: Int, h: Int, depth: Int, colorType: Int,
      ihdrLen: Int = 13, tag: String = "IHDR"): Array[Byte] = {
    val b = new Array[Byte](33)
    val sig = Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)
    sig.zipWithIndex.foreach { case (v, i) => b(i) = v.toByte }
    def be32(off: Int, v: Int): Unit = {
      b(off) = (v >> 24).toByte; b(off + 1) = (v >> 16).toByte
      b(off + 2) = (v >> 8).toByte; b(off + 3) = v.toByte
    }
    be32(8, ihdrLen)
    tag.getBytes("US-ASCII").zipWithIndex.foreach {
      case (v, i) => b(12 + i) = v
    }
    be32(16, w); be32(20, h)
    b(24) = depth.toByte; b(25) = colorType.toByte
    b // bytes 26-28 (compression/filter/interlace) + CRC stay 0
  }

  test("parseImageHeader decodes PNG IHDR for real (channels by color type)") {
    Multimodal.parseImageHeader(pngBytes(800, 600, 8, 2)) shouldBe
      Some(("png", 800, 600, 3)) // truecolor RGB
    Multimodal.parseImageHeader(pngBytes(64, 64, 8, 6)) shouldBe
      Some(("png", 64, 64, 4)) // RGBA
    Multimodal.parseImageHeader(pngBytes(10, 20, 16, 0)) shouldBe
      Some(("png", 10, 20, 1)) // 16-bit grayscale
    Multimodal.parseImageHeader(pngBytes(3, 4, 4, 3)) shouldBe
      Some(("png", 3, 4, 1)) // 4-bit paletted
    Multimodal.parseImageHeader(pngBytes(5, 5, 8, 4)) shouldBe
      Some(("png", 5, 5, 2)) // gray + alpha
    // malformed: illegal depth/type combos (paletted-16, RGB-4),
    // unknown color type, zero/absurd dims, wrong IHDR length, wrong
    // chunk tag, truncation
    Multimodal.parseImageHeader(pngBytes(5, 5, 16, 3)) shouldBe None
    Multimodal.parseImageHeader(pngBytes(5, 5, 4, 2)) shouldBe None
    Multimodal.parseImageHeader(pngBytes(5, 5, 8, 5)) shouldBe None
    Multimodal.parseImageHeader(pngBytes(0, 5, 8, 2)) shouldBe None
    Multimodal.parseImageHeader(pngBytes(1 << 21, 5, 8, 2)) shouldBe None
    Multimodal.parseImageHeader(pngBytes(5, 5, 8, 2, ihdrLen = 14)) shouldBe None
    Multimodal.parseImageHeader(pngBytes(5, 5, 8, 2, tag = "IDAT")) shouldBe None
    Multimodal.parseImageHeader(pngBytes(5, 5, 8, 2).take(20)) shouldBe None
  }

  /** A minimal well-formed JPEG prefix: SOI, an APP0 JFIF stub, an
    * FFDB quant-table stub (exercises the segment walk), then SOF0
    * with the given dims/components. Entropy data omitted — the parse
    * stops at the frame header.
    */
  private def jpegBytes(w: Int, h: Int, ncomp: Int, sofMarker: Int = 0xc0,
      precision: Int = 8, lenDelta: Int = 0): Array[Byte] = {
    val b = scala.collection.mutable.ArrayBuffer.empty[Byte]
    def u8(v: Int): Unit = b += v.toByte
    def u16(v: Int): Unit = { u8(v >> 8); u8(v & 0xff) }
    u16(0xffd8) // SOI
    u16(0xffe0); u16(16); b ++= "JFIF ".getBytes("US-ASCII")
    (0 until 9).foreach(_ => u8(0)) // version/units/density/thumb
    u16(0xffdb); u16(4); u8(0); u8(0) // truncated-but-consistent DQT
    u16(0xff00 | sofMarker); u16(8 + 3 * ncomp + lenDelta)
    u8(precision); u16(h); u16(w); u8(ncomp)
    (0 until ncomp).foreach { ci => u8(ci + 1); u8(0x11); u8(0) }
    b.toArray
  }

  test("parseImageHeader decodes baseline JPEG SOF0 (channels = components)") {
    Multimodal.parseImageHeader(jpegBytes(1024, 768, 3)) shouldBe
      Some(("jpeg", 1024, 768, 3)) // YCbCr
    Multimodal.parseImageHeader(jpegBytes(99, 7, 1)) shouldBe
      Some(("jpeg", 99, 7, 1)) // grayscale
    Multimodal.parseImageHeader(jpegBytes(5, 5, 4)) shouldBe
      Some(("jpeg", 5, 5, 4)) // CMYK/Adobe
    // fill bytes before a marker are legal
    val withFill = jpegBytes(10, 10, 3)
    val filled = withFill.take(2) ++ Array(0xff.toByte) ++ withFill.drop(2)
    Multimodal.parseImageHeader(filled) shouldBe Some(("jpeg", 10, 10, 3))
    // progressive DCT (SOF2) parses identically — same payload layout
    Multimodal.parseImageHeader(jpegBytes(2048, 1536, 3, sofMarker = 0xc2)) shouldBe
      Some(("jpeg", 2048, 1536, 3))
    Multimodal.parseImageHeader(jpegBytes(64, 64, 1, sofMarker = 0xc2)) shouldBe
      Some(("jpeg", 64, 64, 1))
    // ...but 12-bit-precision progressive is still out of slice
    Multimodal.parseImageHeader(
      jpegBytes(10, 10, 3, sofMarker = 0xc2, precision = 12)) shouldBe None
    // other SOFn (extended sequential C1, lossless C3) END the walk as
    // out-of-slice — a stray later SOF0 must not be honored
    Multimodal.parseImageHeader(jpegBytes(10, 10, 3, sofMarker = 0xc1)) shouldBe None
    Multimodal.parseImageHeader(jpegBytes(10, 10, 3, sofMarker = 0xc3)) shouldBe None
    val sof0Tail = jpegBytes(5, 5, 3).takeRight(2 + 2 + 15) // the SOF0 segment
    Multimodal.parseImageHeader(
      jpegBytes(10, 10, 3, sofMarker = 0xc1) ++ sof0Tail) shouldBe None
    // malformed: 12-bit precision, zero dims, bad component count,
    // lying segment length, truncation mid-segment, SOS before any
    // SOF, bare SOI
    Multimodal.parseImageHeader(jpegBytes(10, 10, 3, precision = 12)) shouldBe None
    Multimodal.parseImageHeader(jpegBytes(0, 10, 3)) shouldBe None
    Multimodal.parseImageHeader(jpegBytes(10, 0, 3)) shouldBe None
    Multimodal.parseImageHeader(jpegBytes(10, 10, 2)) shouldBe None
    Multimodal.parseImageHeader(jpegBytes(10, 10, 3, lenDelta = 1)) shouldBe None
    Multimodal.parseImageHeader(jpegBytes(10, 10, 3).dropRight(4)) shouldBe None
    Multimodal.parseImageHeader(Array(0xff, 0xd8, 0xff, 0xda, 0, 4, 0, 0)
      .map(_.toByte)) shouldBe None
    Multimodal.parseImageHeader(Array(0xff, 0xd8).map(_.toByte)) shouldBe None
  }

  test("parseImageHeader decodes GIF logical screen descriptors") {
    def gif(ver: Char, w: Int, h: Int): Array[Byte] =
      s"GIF8${ver}a".getBytes("US-ASCII") ++
        Array((w & 0xff).toByte, (w >> 8).toByte,
          (h & 0xff).toByte, (h >> 8).toByte,
          0xf7.toByte, 0.toByte, 0.toByte) // packed/bg/aspect
    Multimodal.parseImageHeader(gif('9', 320, 200)) shouldBe
      Some(("gif", 320, 200, 1))
    Multimodal.parseImageHeader(gif('7', 1, 65535)) shouldBe
      Some(("gif", 1, 65535, 1))
    Multimodal.parseImageHeader(gif('9', 0, 200)) shouldBe None
    Multimodal.parseImageHeader(gif('9', 320, 200).take(9)) shouldBe None
    // GIF88a is not a real version
    Multimodal.parseImageHeader("GIF88a     "
      .getBytes("ISO-8859-1")) shouldBe None
  }

  /** A minimal canonical WAV: RIFF/WAVE + fmt(16) + data header with
    * `frames * blockAlign` declared payload bytes (payload itself
    * optionally truncated — the parse reads the declared size).
    */
  private def wavBytes(rate: Int, ch: Int, bits: Int, frames: Long,
      audioFmt: Int = 1, extraChunk: Boolean = false): Array[Byte] = {
    val b = scala.collection.mutable.ArrayBuffer.empty[Byte]
    def ascii(s: String): Unit = b ++= s.getBytes("US-ASCII")
    def u16(v: Int): Unit = { b += (v & 0xff).toByte; b += ((v >> 8) & 0xff).toByte }
    def u32(v: Long): Unit = { u16((v & 0xffff).toInt); u16(((v >> 16) & 0xffff).toInt) }
    val align = ch * (bits / 8)
    ascii("RIFF"); u32(36 + frames * align); ascii("WAVE")
    if (extraChunk) { ascii("LIST"); u32(3); ascii("IN"); b += 'F'.toByte; b += 0.toByte } // odd size, padded
    ascii("fmt "); u32(16)
    u16(audioFmt); u16(ch); u32(rate); u32(rate.toLong * align); u16(align); u16(bits)
    ascii("data"); u32(frames * align)
    b.toArray // payload omitted: header-only slice
  }

  test("parseWavHeader decodes RIFF/WAVE fmt+data for real") {
    Multimodal.parseWavHeader(wavBytes(44100, 2, 16, 1000L)) shouldBe
      Some((44100, 2, 16, 1000L))
    Multimodal.parseWavHeader(wavBytes(16000, 1, 8, 7L)) shouldBe
      Some((16000, 1, 8, 7L))
    // IEEE float (format 3), and an interposed odd-sized LIST chunk
    // (exercises even-padding in the chunk walk)
    Multimodal.parseWavHeader(wavBytes(48000, 2, 32, 5L, audioFmt = 3)) shouldBe
      Some((48000, 2, 32, 5L))
    Multimodal.parseWavHeader(
      wavBytes(22050, 1, 16, 3L, extraChunk = true)) shouldBe
      Some((22050, 1, 16, 3L))
    // malformed / out-of-slice: compressed format, zero channels,
    // inconsistent block align, missing data chunk, wrong magic,
    // truncation below the minimal header
    Multimodal.parseWavHeader(wavBytes(44100, 2, 16, 9L, audioFmt = 85)) shouldBe None
    Multimodal.parseWavHeader(wavBytes(44100, 0, 16, 9L)) shouldBe None
    val badAlign = wavBytes(44100, 2, 16, 9L)
    badAlign(32) = 5 // blockAlign != ch * bits/8
    Multimodal.parseWavHeader(badAlign) shouldBe None
    Multimodal.parseWavHeader(wavBytes(44100, 2, 16, 9L).take(40)) shouldBe None
    val notWave = wavBytes(44100, 2, 16, 9L)
    notWave(8) = 'A'.toByte
    Multimodal.parseWavHeader(notWave) shouldBe None
    // a junk chunk declaring a near-Int.MaxValue size must end the walk
    // (Long index), not overflow negative and throw on a bad array read
    val hugeChunk = {
      val b = scala.collection.mutable.ArrayBuffer.empty[Byte]
      b ++= "RIFF".getBytes("US-ASCII"); b ++= Array[Byte](36, 0, 0, 0)
      b ++= "WAVE".getBytes("US-ASCII")
      b ++= "JUNK".getBytes("US-ASCII")
      b ++= Array[Byte](-1, -1, -1, 0x7f) // size 0x7FFFFFFF
      b ++= new Array[Byte](24)
      b.toArray
    }
    noException should be thrownBy Multimodal.parseWavHeader(hugeChunk)
    Multimodal.parseWavHeader(hugeChunk) shouldBe None
  }

  test("decodeAudio: WAV parses for real, other payloads carry -1 sentinels") {
    import spark.implicits._
    val rows = Seq(
      MediaRow(1, "audio", wavBytes(44100, 2, 16, 100L)),
      MediaRow(2, "audio", Array[Byte](1, 2, 3)),
      MediaRow(3, "audio", Array.emptyByteArray)).toDS()
    val out = Multimodal.decodeAudio(rows).collect().sortBy(_.media_id)
    out.map(_.format).toSeq shouldBe Seq("wav", "stub", "stub")
    out(0).sample_rate shouldBe 44100
    out(0).channels shouldBe 2
    out(0).bits_per_sample shouldBe 16
    out(0).n_frames shouldBe 100L
    out(1).sample_rate shouldBe -1
    out(1).n_frames shouldBe -1L
    // checksums come from the same shared byteChecksum as decode
    val viaDecode = Multimodal.decode(rows).collect().sortBy(_.media_id)
    out.map(_.checksum).toSeq shouldBe viaDecode.map(_.checksum).toSeq
  }

  // ——— ISO-BMFF / MP4 golden builders ———

  private def beBytes(v: Long, n: Int): Array[Byte] =
    (0 until n).map(i => ((v >> (8 * (n - 1 - i))) & 0xff).toByte).toArray

  /** One box: u32 size (or size=1 + u64 largesize) + type + payload. */
  private def box(typ: String, payload: Array[Byte],
      largesize: Boolean = false): Array[Byte] = {
    val t = typ.getBytes("US-ASCII")
    if (largesize)
      beBytes(1, 4) ++ t ++ beBytes(16L + payload.length, 8) ++ payload
    else beBytes(8L + payload.length, 4) ++ t ++ payload
  }

  private def mvhdBytes(ver: Int, timescale: Long, duration: Long): Array[Byte] =
    if (ver == 0)
      Array[Byte](0, 0, 0, 0) ++ beBytes(0, 4) ++ beBytes(0, 4) ++
        beBytes(timescale, 4) ++ beBytes(duration, 4)
    else
      Array[Byte](1, 0, 0, 0) ++ beBytes(0, 8) ++ beBytes(0, 8) ++
        beBytes(timescale, 4) ++ beBytes(duration, 8)

  /** tkhd with 16.16 fixed-point dims at the version's spec offsets. */
  private def tkhdBytes(ver: Int, w: Int, h: Int): Array[Byte] = {
    val fixed = if (ver == 0) 20 else 32 // creation..duration span
    Array[Byte](ver.toByte, 0, 0, 0) ++ new Array[Byte](fixed) ++
      new Array[Byte](8 + 2 + 2 + 2 + 2 + 36) ++
      beBytes(w.toLong << 16, 4) ++ beBytes(h.toLong << 16, 4)
  }

  private def mp4Bytes(brand: String, timescale: Long, duration: Long,
      trackDims: Seq[(Int, Int)], mvhdVer: Int = 0, tkhdVer: Int = 0,
      largeMoov: Boolean = false): Array[Byte] = {
    val ftyp = box("ftyp", brand.getBytes("US-ASCII") ++ beBytes(0, 4) ++
      "isom".getBytes("US-ASCII"))
    val kids = box("mvhd", mvhdBytes(mvhdVer, timescale, duration)) ++
      trackDims.flatMap { case (w, h) =>
        box("trak", box("tkhd", tkhdBytes(tkhdVer, w, h)))
      }
    ftyp ++ box("moov", kids, largesize = largeMoov)
  }

  test("parseMp4Header decodes ISO-BMFF movie + track headers for real") {
    // v0 everything; first track audio-only (0x0), second carries dims
    Multimodal.parseMp4Header(
      mp4Bytes("isom", 600, 120000, Seq((0, 0), (1920, 1080)))) shouldBe
      Some(Multimodal.Mp4Meta("isom", 600, 120000L, 2, 1920, 1080))
    // brand with a trailing space trims; audio-only movie keeps 0x0
    Multimodal.parseMp4Header(
      mp4Bytes("M4A ", 44100, 441000, Seq((0, 0)))) shouldBe
      Some(Multimodal.Mp4Meta("M4A", 44100, 441000L, 1, 0, 0))
    // v1 mvhd/tkhd: 64-bit duration past u32 range
    Multimodal.parseMp4Header(
      mp4Bytes("mp42", 90000, 5000000000L, Seq((640, 360)),
        mvhdVer = 1, tkhdVer = 1)) shouldBe
      Some(Multimodal.Mp4Meta("mp42", 90000, 5000000000L, 1, 640, 360))
    // size=1 largesize framing on moov
    Multimodal.parseMp4Header(
      mp4Bytes("isom", 600, 600, Seq((320, 240)), largeMoov = true)) shouldBe
      Some(Multimodal.Mp4Meta("isom", 600, 600L, 1, 320, 240))
  }

  test("parseMp4Header rejects malformed containers without throwing") {
    val good = mp4Bytes("isom", 600, 1200, Seq((320, 240)))
    val ftypLen = 20 // size+type + brand(4)+minor(4)+compat(4)
    // ftyp must be first: stripping it leaves a well-formed moov-first file
    Multimodal.parseMp4Header(good.drop(ftypLen)) shouldBe None
    // moov absent
    Multimodal.parseMp4Header(
      box("ftyp", "isom".getBytes ++ beBytes(0, 4))) shouldBe None
    // no trak
    Multimodal.parseMp4Header(box("ftyp",
      "isom".getBytes ++ beBytes(0, 4)) ++
      box("moov", box("mvhd", mvhdBytes(0, 600, 600)))) shouldBe None
    // zero timescale / unknown mvhd version
    Multimodal.parseMp4Header(
      mp4Bytes("isom", 0, 600, Seq((320, 240)))) shouldBe None
    val badVer = good.clone()
    // mvhd version byte: ftyp + moov hdr(8) + mvhd hdr(8)
    badVer(ftypLen + 8 + 8) = 2
    Multimodal.parseMp4Header(badVer) shouldBe None
    // lying box size overrunning the file, and truncation
    val lying = good.clone()
    lying(ftypLen) = 0x7f // moov size high byte → overrun
    Multimodal.parseMp4Header(lying) shouldBe None
    Multimodal.parseMp4Header(good.take(40)) shouldBe None
    // a largesize near 2^63 must end the walk, not wrap and throw
    val huge = box("ftyp", "isom".getBytes ++ beBytes(0, 4)) ++
      beBytes(1, 4) ++ "moov".getBytes("US-ASCII") ++
      beBytes(0x7ffffffffffffff0L, 8)
    noException should be thrownBy Multimodal.parseMp4Header(huge)
    Multimodal.parseMp4Header(huge) shouldBe None
    Multimodal.parseMp4Header(Array.emptyByteArray) shouldBe None
  }


  test("parseMp4Header reads no byte past an empty trailing mvhd or tkhd") {
    val ftyp = box("ftyp", "isom".getBytes("US-ASCII") ++ beBytes(0, 4))
    // ftyp, then a moov holding an empty trak and, last, an empty mvhd
    val emptyMvhd = ftyp ++ box("moov",
      box("trak", Array.emptyByteArray) ++ box("mvhd", Array.emptyByteArray))
    emptyMvhd.length shouldBe 40
    Multimodal.parseMp4Header(emptyMvhd) shouldBe None
    // an empty tkhd, last in the file, gives its track no dims
    val emptyTkhd = ftyp ++ box("moov", box("mvhd", mvhdBytes(0, 600, 1200)) ++
      box("trak", box("tkhd", Array.emptyByteArray)))
    Multimodal.parseMp4Header(emptyTkhd) shouldBe
      Some(Multimodal.Mp4Meta("isom", 600, 1200L, 1, 0, 0))
  }
  test("decodeVideo: MP4 parses for real, other payloads carry -1 sentinels") {
    import spark.implicits._
    val rows = Seq(
      MediaRow(1, "video", mp4Bytes("isom", 600, 36000, Seq((1280, 720)))),
      MediaRow(2, "video", Array[Byte](9, 9, 9)),
      MediaRow(3, "video", Array.emptyByteArray)).toDS()
    val out = Multimodal.decodeVideo(rows).collect().sortBy(_.media_id)
    out.map(_.format).toSeq shouldBe Seq("mp4", "stub", "stub")
    out(0).brand shouldBe "isom"
    out(0).timescale shouldBe 600
    out(0).duration shouldBe 36000L
    out(0).n_tracks shouldBe 1
    out(0).width shouldBe 1280
    out(0).height shouldBe 720
    out(1).timescale shouldBe -1
    out(1).duration shouldBe -1L
    out(1).brand shouldBe ""
    // checksums come from the same shared byteChecksum as decode
    val viaDecode = Multimodal.decode(rows).collect().sortBy(_.media_id)
    out.map(_.checksum).toSeq shouldBe viaDecode.map(_.checksum).toSeq
  }

  test("decode: real formats decode for real, everything else falls back to the stub") {
    import spark.implicits._
    val mixed = Seq(
      MediaRow(1, "image", bmpBytes(640, 480, 24)),
      MediaRow(2, "image", "P6\n320 200\n255\n".getBytes("US-ASCII")),
      MediaRow(3, "audio", Array[Byte](-1, -2, -3)),
      MediaRow(4, "image", Array.emptyByteArray),
      MediaRow(5, "image", pngBytes(800, 600, 8, 6))).toDS()
    val out = Multimodal.decode(mixed).collect().sortBy(_.media_id)
    out.map(_.format).toSeq shouldBe Seq("bmp", "ppm", "stub", "stub", "png")
    out(4).width shouldBe 800
    out(4).channels shouldBe 4
    // stub fallback carries the -1 channels sentinel (DecodedMedia doc)
    out(2).channels shouldBe -1
    out(0).width shouldBe 640
    out(0).height shouldBe 480
    out(0).channels shouldBe 3
    out(1).width shouldBe 320
    out(1).channels shouldBe 3
    // stub fallback keeps decodeStub's exact fake dimensions + checksum
    val stub = Multimodal.decodeStub(mixed).collect().sortBy(_.media_id)
    out(2).width shouldBe stub(2).width
    out(2).height shouldBe stub(2).height
    out.map(_.checksum).toSeq shouldBe stub.map(_.checksum).toSeq
  }

  // —— PNG: real DEFLATE decode (m11 slice) ——

  private def detRandom(seed: Int, n: Int): Array[Byte] = {
    val r = new scala.util.Random(seed)
    Array.fill(n)(r.nextInt(256).toByte)
  }

  test("decodePng: every filter type round-trips gray/RGB/RGBA goldens") {
    for (ch <- Seq(1, 3, 4); ft <- 0 to 4) {
      val px = detRandom(ch * 100 + ft, 4 * 3 * ch)
      val bytes = Multimodal.encodePng(4, 3, ch, px, _ => ft)
      val img = Multimodal.decodeRasterPixels(bytes).get
      (img.format, img.width, img.height, img.channels) shouldBe
        (("png", 4, 3, ch))
      withClue(s"ch=$ch filter=$ft: ") { img.pixels.toSeq shouldBe px.toSeq }
    }
  }

  test("decodePng: per-row varied filters, edge sizes (w=1, h=1) round-trip") {
    for (ch <- Seq(1, 3, 4); (w, h) <- Seq((1, 7), (7, 1), (5, 5), (1, 1))) {
      val px = detRandom(ch * 1000 + w * 10 + h, w * h * ch)
      val bytes = Multimodal.encodePng(w, h, ch, px, y => (y + ch) % 5)
      val img = Multimodal.decodeRasterPixels(bytes).get
      withClue(s"ch=$ch ${w}x$h: ") { img.pixels.toSeq shouldBe px.toSeq }
    }
  }

  test("decodePng 16-bit gray: every filter round-trips to the high-byte " +
    "canonical, progressive and Adam7; 16-bit color rejects") {
    for (ft <- 0 to 4; adam7 <- Seq(false, true)) {
      val w = 6; val h = 5
      val raw = detRandom(16 * 100 + ft, w * h * 2)
      // distinct hi/lo bytes per sample so byte-role bugs can't hide
      val samples = Array.tabulate(w * h)(i =>
        ((raw(i * 2) & 0xff) << 8) | (raw(i * 2 + 1) & 0xff))
      val bytes = Multimodal.encodePng16Gray(w, h, samples,
        y => (y + ft) % 5, adam7 = adam7)
      val img = Multimodal.decodeRasterPixels(bytes).get
      (img.format, img.width, img.height, img.channels) shouldBe
        (("png", w, h, 1))
      withClue(s"ft=$ft adam7=$adam7: ") {
        img.pixels.map(_ & 0xff).toSeq shouldBe samples.map(_ >>> 8).toSeq
      }
    }
    // a 16-bit COLOR stream stays out of slice: take a valid 16-bit
    // gray stream and relabel it RGB with a CRC-consistent IHDR
    val ok = Multimodal.encodePng16Gray(4, 4,
      Array.tabulate(16)(i => i * 4000), _ => 0)
    val rgb16 = ok.clone(); rgb16(25) = 2
    val crc = new java.util.zip.CRC32
    crc.update(rgb16, 12, 17)
    val v = crc.getValue.toInt
    rgb16(29) = (v >>> 24).toByte; rgb16(30) = (v >>> 16).toByte
    rgb16(31) = (v >>> 8).toByte; rgb16(32) = v.toByte
    Multimodal.decodeRasterPixels(rgb16) shouldBe None
  }

  test("decodePng 16-bit gray: agrees with the JDK's ImageIO, full 16 bits") {
    // ImageIO decodes the FULL 16-bit samples — this pins the encoder's
    // big-endian order and bpp=2 filter arithmetic beyond the high byte
    for (ft <- 0 to 4) {
      val w = 5; val h = 4
      val raw = detRandom(16 * 1000 + ft, w * h * 2)
      val samples = Array.tabulate(w * h)(i =>
        ((raw(i * 2) & 0xff) << 8) | (raw(i * 2 + 1) & 0xff))
      val bytes = Multimodal.encodePng16Gray(w, h, samples, y => (y + ft) % 5)
      val bi = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bytes))
      bi should not be null
      val raster = bi.getRaster
      for (y <- 0 until h; x <- 0 until w) {
        withClue(s"ft=$ft ($x,$y): ") {
          raster.getSample(x, y, 0) shouldBe samples(y * w + x)
        }
      }
    }
  }

  test("decodePng: agrees with the JDK's own ImageIO decoder (independent)") {
    // ImageIO is an INDEPENDENT PNG implementation — if encodePng and
    // decodePngPixels shared a filter-arithmetic bug, this catches it.
    for (ch <- Seq(1, 3); ft <- 0 to 4) {
      val w = 6; val h = 5
      val px = detRandom(ch * 7 + ft, w * h * ch)
      val bytes = Multimodal.encodePng(w, h, ch, px, y => (y + ft) % 5)
      val bi = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bytes))
      bi should not be null
      // raw raster samples — getRGB would colorspace-convert gray
      val raster = bi.getRaster
      for (y <- 0 until h; x <- 0 until w; b <- 0 until ch) {
        withClue(s"ch=$ch ft=$ft ($x,$y) band $b: ") {
          raster.getSample(x, y, b) shouldBe (px((y * w + x) * ch + b) & 0xff)
        }
      }
    }
  }

  test("decodePng: malformed streams reject without throwing") {
    val px = detRandom(42, 4 * 4)
    val good = Multimodal.encodePng(4, 4, 1, px, y => y % 5)
    Multimodal.decodeRasterPixels(good) should not be None
    // corrupt one IDAT payload byte → chunk CRC fails
    val crcBad = good.clone()
    crcBad(8 + 25 + 8 + 2) = (crcBad(8 + 25 + 8 + 2) ^ 0x01).toByte
    Multimodal.decodeRasterPixels(crcBad) shouldBe None
    // truncation anywhere in the chunk frame
    Multimodal.decodeRasterPixels(good.take(good.length - 13)) shouldBe None
    Multimodal.decodeRasterPixels(good.take(30)) shouldBe None
    // interlace byte flipped WITHOUT fixing the IHDR CRC → CRC reject
    // (a well-formed Adam7 stream decodes for real — see the Adam7
    // suite; the mismatched-size relabel case is covered there too)
    val inter = good.clone(); inter(28) = 1
    Multimodal.decodeRasterPixels(inter) shouldBe None
    // a relabel to 16-bit depth doubles the declared scanline budget
    // the 8-bit data cannot fill — size-mismatch reject (real 16-bit
    // gray decodes: see the 16-bit suite); relabeled palette color is
    // out of slice without a PLTE (fix CRC so the rejection is never
    // the CRC)
    def withIhdr(mut: Array[Byte] => Unit): Array[Byte] = {
      val b = good.clone(); mut(b)
      val crc = new java.util.zip.CRC32
      crc.update(b, 12, 17)
      val v = crc.getValue.toInt
      b(29) = (v >>> 24).toByte; b(30) = (v >>> 16).toByte
      b(31) = (v >>> 8).toByte; b(32) = v.toByte
      b
    }
    Multimodal.decodeRasterPixels(withIhdr(_(24) = 16)) shouldBe None
    Multimodal.decodeRasterPixels(withIhdr(_(25) = 3)) shouldBe None
    // declared dims not matching the inflated size → malformed
    Multimodal.decodeRasterPixels(withIhdr { b =>
      b(16) = 0; b(17) = 0; b(18) = 0; b(19) = 5 // width 5, data for 4
    }) shouldBe None
    // garbage where the DEFLATE stream should be (valid chunk CRC)
    val rawLen = good.length
    val out = new java.io.ByteArrayOutputStream()
    out.write(good, 0, 8 + 25) // sig + IHDR
    val junk = detRandom(7, 20)
    out.write(Array[Byte](0, 0, 0, 20))
    out.write("IDAT".getBytes("US-ASCII"))
    out.write(junk)
    val c2 = new java.util.zip.CRC32
    c2.update("IDAT".getBytes("US-ASCII")); c2.update(junk)
    val cv = c2.getValue.toInt
    out.write(Array((cv >>> 24).toByte, (cv >>> 16).toByte,
      (cv >>> 8).toByte, cv.toByte))
    out.write(good, rawLen - 12, 12) // IEND
    Multimodal.decodeRasterPixels(out.toByteArray) shouldBe None
  }

  test("decodePng: ancillary chunks are skipped; split IDAT concatenates") {
    val px = detRandom(9, 3 * 3)
    val good = Multimodal.encodePng(3, 3, 1, px, _ => 4)
    // splice a tEXt chunk between IHDR and IDAT, and split the IDAT
    // payload into two chunks — both legal per the spec
    def be(v: Int) = Array((v >>> 24).toByte, (v >>> 16).toByte,
      (v >>> 8).toByte, v.toByte)
    def chunk(tpe: String, data: Array[Byte]): Array[Byte] = {
      val tb = tpe.getBytes("US-ASCII")
      val crc = new java.util.zip.CRC32
      crc.update(tb); crc.update(data)
      be(data.length) ++ tb ++ data ++ be(crc.getValue.toInt)
    }
    val idatLen = ((good(8 + 25) & 0xff) << 24) |
      ((good(8 + 26) & 0xff) << 16) | ((good(8 + 27) & 0xff) << 8) |
      (good(8 + 28) & 0xff)
    val idat = good.slice(8 + 25 + 8, 8 + 25 + 8 + idatLen)
    val (ia, ib) = idat.splitAt(idatLen / 2)
    val rebuilt = good.take(8 + 25) ++
      chunk("tEXt", "comment graft".getBytes("ISO-8859-1")) ++
      chunk("IDAT", ia) ++ chunk("IDAT", ib) ++ chunk("IEND", Array.emptyByteArray)
    val img = Multimodal.decodeRasterPixels(rebuilt).get
    img.pixels.toSeq shouldBe px.toSeq
  }

  // —— GIF: real LZW decode (m12 slice) ——

  private def grayPalette: Array[Byte] =
    Array.tabulate(256 * 3)(i => (i / 3).toByte)

  test("decodeGif: LZW round-trips through dictionary growth and width bumps") {
    // 64x64 with long runs + varied bytes: the dictionary crosses the
    // 8/16/.../512 width boundaries and builds real multi-byte entries
    val px = Array.tabulate(64 * 64) { i =>
      (if (i % 97 < 60) (i / 97) % 256 else i % 251).toByte
    }
    val bytes = Multimodal.encodeGif(64, 64, grayPalette, px)
    val img = Multimodal.decodeRasterPixels(bytes).get
    (img.format, img.width, img.height, img.channels) shouldBe (("gif", 64, 64, 3))
    // palette expansion: index v -> (v, v, v)
    img.pixels.toSeq shouldBe px.flatMap(v => Seq(v, v, v)).toSeq
  }

  test("decodeGif: KwKwK self-referential codes and tiny palettes round-trip") {
    // aaaa... is the classic KwKwK trigger (emit of a just-added entry)
    val pal4 = Array[Byte](0, 0, 0, 85, 85, 85, -86, -86, -86, -1, -1, -1)
    val runs = Array.fill(37)(1.toByte) ++ Array.fill(23)(2.toByte) ++
      Array.fill(40)(1.toByte)
    val bytes = Multimodal.encodeGif(10, 10, pal4, runs)
    val img = Multimodal.decodeRasterPixels(bytes).get
    img.pixels.toSeq shouldBe runs.flatMap { v =>
      val g = (v * 85).toByte; Seq(g, g, g)
    }.toSeq
    // single pixel, and a width-1 column image
    Multimodal.decodeRasterPixels(
      Multimodal.encodeGif(1, 1, pal4, Array[Byte](3))).get
      .pixels.toSeq shouldBe Seq[Byte](-1, -1, -1)
    val col = Array.tabulate(7)(i => (i % 4).toByte)
    Multimodal.decodeRasterPixels(
      Multimodal.encodeGif(1, 7, pal4, col)).get.width shouldBe 1
  }

  test("decodeGif: table overflow forces a mid-stream clear that round-trips") {
    // >4096 distinct pixel transitions: the encoder's dictionary fills,
    // emits CLEAR, and restarts — the decoder must follow
    val rng = new scala.util.Random(5)
    val px = Array.fill(120 * 120)(rng.nextInt(256).toByte)
    val img = Multimodal.decodeRasterPixels(
      Multimodal.encodeGif(120, 120, grayPalette, px)).get
    img.pixels.toSeq shouldBe px.flatMap(v => Seq(v, v, v)).toSeq
  }

  test("decodeGif: agrees with the JDK's own ImageIO codec, both directions") {
    // direction 1: OUR encoder -> ImageIO's independent decoder
    val px = Array.tabulate(20 * 9)(i => ((i * 13) % 256).toByte)
    val ours = Multimodal.encodeGif(20, 9, grayPalette, px)
    val bi = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(ours))
    bi should not be null
    for (y <- 0 until 9; x <- 0 until 20) {
      val rgb = bi.getRGB(x, y)
      val v = px(y * 20 + x) & 0xff
      withClue(s"($x,$y): ") {
        ((rgb >> 16) & 0xff, (rgb >> 8) & 0xff, rgb & 0xff) shouldBe ((v, v, v))
      }
    }
    // direction 2: ImageIO's independent encoder -> OUR decoder
    val src = new java.awt.image.BufferedImage(11, 6,
      java.awt.image.BufferedImage.TYPE_BYTE_INDEXED)
    for (y <- 0 until 6; x <- 0 until 11)
      src.setRGB(x, y, ((x * 23) << 16) | ((y * 41) << 8) | ((x + y) * 9))
    val buf = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(src, "gif", buf) shouldBe true
    val theirs = buf.toByteArray
    val img = Multimodal.decodeRasterPixels(theirs).get
    (img.format, img.width, img.height) shouldBe (("gif", 11, 6))
    for (y <- 0 until 6; x <- 0 until 11) {
      val rgb = src.getRGB(x, y) // the palette-quantized truth
      val o = (y * 11 + x) * 3
      withClue(s"($x,$y): ") {
        (img.pixels(o) & 0xff, img.pixels(o + 1) & 0xff,
          img.pixels(o + 2) & 0xff) shouldBe
          (((rgb >> 16) & 0xff, (rgb >> 8) & 0xff, rgb & 0xff))
      }
    }
  }

  test("decodeGif: malformed streams reject without throwing") {
    val px = Array.tabulate(6 * 4)(i => (i % 4).toByte)
    val pal4 = Array[Byte](0, 0, 0, 1, 1, 1, 2, 2, 2, 3, 3, 3)
    val good = Multimodal.encodeGif(6, 4, pal4, px)
    Multimodal.decodeRasterPixels(good) should not be None
    // truncation at various depths
    for (keep <- Seq(10, 13, 20, good.length - 3))
      withClue(s"keep=$keep: ") {
        Multimodal.decodeRasterPixels(good.take(keep)) shouldBe None
      }
    // interlace flag on a progressive stream: decodes, but the rows
    // land in 4-pass order (h=4 -> sequential rows map to 0,2,1,3)
    val idOff = 13 + 12 // header+LSD, 4-entry GCT
    (good(idOff) & 0xff) shouldBe 0x2c
    val inter = good.clone(); inter(idOff + 9) = 0x40.toByte
    val ii = Multimodal.decodeRasterPixels(inter).get
    val gg = Multimodal.decodeRasterPixels(good).get
    for ((seqRow, outRow) <- Seq(0 -> 0, 1 -> 2, 2 -> 1, 3 -> 3))
      ii.pixels.slice(outRow * 18, outRow * 18 + 18).toSeq shouldBe
        gg.pixels.slice(seqRow * 18, seqRow * 18 + 18).toSeq
    // no color table at all (GCT flag cleared, no LCT)
    val noPal = good.clone(); noPal(10) = (noPal(10) & 0x7f).toByte
    // (the palette bytes are now parsed as blocks -> malformed, None
    // either way; the decoder must not throw)
    Multimodal.decodeRasterPixels(noPal) shouldBe None
    // corrupt the LZW stream: garbage codes inside the sub-block
    val bad = good.clone()
    bad(idOff + 12) = 0xff.toByte; bad(idOff + 13) = 0xff.toByte
    Multimodal.decodeRasterPixels(bad) shouldBe None
    // declared dims larger than the code stream's pixel output
    val short = good.clone()
    short(idOff + 5) = 7 // width 6 -> 7, same code stream
    Multimodal.decodeRasterPixels(short) shouldBe None
    // trailer-before-image is malformed, not an image
    val hdrOnly = good.take(13 + 12) :+ 0x3b.toByte
    Multimodal.decodeRasterPixels(hdrOnly) shouldBe None
  }

  // —— PNG: Adam7 interlace (m17 slice) ——

  test("decodePng Adam7: round-trips all channel counts and pass-empty sizes") {
    // 8x8 exercises all seven passes; 1x1/2x2/3x3 leave passes EMPTY
    // (wholly absent from the stream, per spec); 9x5/16x11 are
    // non-square with ragged pass dims
    for (ch <- Seq(1, 3, 4);
         (w, h) <- Seq((8, 8), (1, 1), (2, 2), (3, 3), (5, 5), (9, 5), (16, 11))) {
      val px = detRandom(ch * 10000 + w * 100 + h, w * h * ch)
      val bytes = Multimodal.encodePng(w, h, ch, px,
        idx => (idx + ch) % 5, adam7 = true)
      val img = Multimodal.decodeRasterPixels(bytes).get
      (img.width, img.height, img.channels) shouldBe ((w, h, ch))
      withClue(s"ch=$ch ${w}x$h: ") { img.pixels.toSeq shouldBe px.toSeq }
    }
  }

  test("decodePng Adam7: agrees with the JDK's own ImageIO decoder") {
    // ImageIO de-interlaces independently — a shared scatter-geometry
    // bug between encodePng(adam7) and the pass walk cannot hide
    for (ch <- Seq(1, 3); (w, h) <- Seq((8, 8), (9, 5), (5, 5))) {
      val px = detRandom(ch * 31 + w + h, w * h * ch)
      val bytes = Multimodal.encodePng(w, h, ch, px,
        idx => idx % 5, adam7 = true)
      val bi = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bytes))
      bi should not be null
      val raster = bi.getRaster
      for (y <- 0 until h; x <- 0 until w; b <- 0 until ch) {
        withClue(s"ch=$ch ${w}x$h ($x,$y) band $b: ") {
          raster.getSample(x, y, b) shouldBe (px((y * w + x) * ch + b) & 0xff)
        }
      }
    }
  }

  test("decodePng Adam7: indexed palette round-trips through the pass walk") {
    val pal = Array.tabulate(256 * 3) { k =>
      val i = k / 3
      (k % 3 match {
        case 0 => i; case 1 => (i * 7 + 13) % 256; case _ => (i * 31 + 5) % 256
      }).toByte
    }
    val idx = detRandom(77, 8 * 8)
    val bytes = Multimodal.encodePngIndexed(8, 8, pal, idx,
      i => i % 5, adam7 = true)
    val img = Multimodal.decodeRasterPixels(bytes).get
    (img.width, img.height, img.channels) shouldBe ((8, 8, 3))
    for (i <- 0 until 64) {
      val v = idx(i) & 0xff
      (img.pixels(i * 3) & 0xff) shouldBe v
      (img.pixels(i * 3 + 1) & 0xff) shouldBe (v * 7 + 13) % 256
      (img.pixels(i * 3 + 2) & 0xff) shouldBe (v * 31 + 5) % 256
    }
  }

  // —— BMP: RLE8 run-length decode (m18 slice) ——

  private def derangedPal: Array[Byte] = Array.tabulate(256 * 3) { k =>
    val i = k / 3
    (k % 3 match {
      case 0 => i; case 1 => (i * 7 + 13) % 256; case _ => (i * 31 + 5) % 256
    }).toByte
  }

  test("decodeBmp RLE8: run and absolute modes round-trip through the palette") {
    for ((w, h) <- Seq((8, 8), (5, 3), (1, 4), (3, 1), (7, 7));
         mode <- Seq(0, 1, 2)) {
      val idx = detRandom(w * 100 + h * 10 + mode, w * h)
      val bytes = Multimodal.encodeBmpRle8(w, h, derangedPal, idx,
        r => mode match { case 0 => false; case 1 => true; case _ => r % 2 == 0 })
      val img = Multimodal.decodeRasterPixels(bytes).get
      (img.format, img.width, img.height, img.channels) shouldBe (("bmp", w, h, 3))
      for (i <- 0 until w * h) {
        val v = idx(i) & 0xff
        withClue(s"${w}x$h mode=$mode px $i: ") {
          (img.pixels(i * 3) & 0xff) shouldBe v
          (img.pixels(i * 3 + 1) & 0xff) shouldBe (v * 7 + 13) % 256
          (img.pixels(i * 3 + 2) & 0xff) shouldBe (v * 31 + 5) % 256
        }
      }
    }
  }

  test("decodeBmp RLE8: delta skips and early EOD decode as palette entry 0") {
    // hand-built 4x2 stream exercising delta and early EOD: stored row
    // 0 (bottom image row): run [2, 5], delta (0,2,1,1) to (x=3,row=1),
    // run [1, 7], EOD — everything else must be index 0
    val base = Multimodal.encodeBmpRle8(4, 2, derangedPal,
      new Array[Byte](8)) // header + palette template
    val offBits = 54 + 4 * 256
    val stream = Array[Byte](2, 5, 0, 2, 1, 1, 1, 7, 0, 1)
    val bytes = base.take(offBits) ++ stream
    // patch the file/image sizes in the header copy
    def pw(off: Int, v: Int): Unit = {
      bytes(off) = (v & 0xff).toByte; bytes(off + 1) = ((v >>> 8) & 0xff).toByte
      bytes(off + 2) = ((v >>> 16) & 0xff).toByte; bytes(off + 3) = ((v >>> 24) & 0xff).toByte
    }
    pw(2, bytes.length); pw(34, stream.length)
    val img = Multimodal.decodeRasterPixels(bytes).get
    // stored row 0 = IMAGE row 1 (bottom-up): x0,x1 = 5; stored row 1
    // = image row 0: x3 = 7; all others palette entry 0
    def idxAt(x: Int, y: Int): Int = img.pixels((y * 4 + x) * 3) & 0xff
    idxAt(0, 1) shouldBe 5; idxAt(1, 1) shouldBe 5
    idxAt(3, 0) shouldBe 7
    Seq((2, 1), (3, 1), (0, 0), (1, 0), (2, 0)).foreach { case (x, y) =>
      idxAt(x, y) shouldBe 0
    }
  }

  test("decodeBmp RLE8: malformed streams reject, never throw") {
    val idx = detRandom(9, 8 * 8)
    val good = Multimodal.encodeBmpRle8(8, 8, derangedPal, idx)
    Multimodal.decodeRasterPixels(good) should not be None
    // truncation before EOD
    Multimodal.decodeRasterPixels(good.take(good.length - 2)) shouldBe None
    // a run crossing the row edge
    val offBits = 54 + 4 * 256
    val overrun = good.clone()
    overrun(offBits) = 9 // first run length 9 > width 8
    Multimodal.decodeRasterPixels(overrun) shouldBe None
    // RLE with top-down height is out of spec
    val topDown = good.clone()
    val negH = -8
    topDown(22) = (negH & 0xff).toByte; topDown(23) = ((negH >> 8) & 0xff).toByte
    topDown(24) = ((negH >> 16) & 0xff).toByte; topDown(25) = ((negH >> 24) & 0xff).toByte
    Multimodal.decodeRasterPixels(topDown) shouldBe None
  }

  test("decodePng Adam7: malformed interlaced streams reject, never throw") {
    val px = detRandom(55, 8 * 8)
    val good = Multimodal.encodePng(8, 8, 1, px, _ => 1, adam7 = true)
    Multimodal.decodeRasterPixels(good) should not be None
    // truncated mid-IDAT
    Multimodal.decodeRasterPixels(good.take(good.length - 20)) shouldBe None
    // a PROGRESSIVE stream relabeled interlaced (CRC fixed): the
    // inflated size no longer matches the pass layout → reject
    val prog = Multimodal.encodePng(8, 8, 1, px, _ => 0)
    val relabeled = prog.clone()
    relabeled(28) = 1
    val crc = new java.util.zip.CRC32
    crc.update(relabeled, 12, 17)
    val v = crc.getValue.toInt
    relabeled(29) = (v >>> 24).toByte; relabeled(30) = (v >>> 16).toByte
    relabeled(31) = (v >>> 8).toByte; relabeled(32) = v.toByte
    Multimodal.decodeRasterPixels(relabeled) shouldBe None
    // interlace byte outside 0..1 stays out of slice
    val bad = good.clone()
    bad(28) = 2
    crc.reset(); crc.update(bad, 12, 17)
    val v2 = crc.getValue.toInt
    bad(29) = (v2 >>> 24).toByte; bad(30) = (v2 >>> 16).toByte
    bad(31) = (v2 >>> 8).toByte; bad(32) = v2.toByte
    Multimodal.decodeRasterPixels(bad) shouldBe None
  }

  test("indexed PNG decodes through PLTE expansion with every filter type") {
    val pal = Array.tabulate(256 * 3) { k =>
      val i = k / 3
      (k % 3 match {
        case 0 => i; case 1 => (i * 7 + 13) % 256; case _ => (i * 31 + 5) % 256
      }).toByte
    }
    val idx = detRandom(7, 8 * 8)
    // per-row filter sweep covers None/Sub/Up/Average/Paeth on the
    // index plane
    val png = Multimodal.encodePngIndexed(8, 8, pal, idx, y => y % 5)
    val img = Multimodal.decodeRasterPixels(png).get
    img.format shouldBe "png"
    img.channels shouldBe 3
    img.pixels.length shouldBe 8 * 8 * 3
    for (i <- 0 until 64) {
      val v = idx(i) & 0xff
      (img.pixels(i * 3) & 0xff) shouldBe v
      (img.pixels(i * 3 + 1) & 0xff) shouldBe (v * 7 + 13) % 256
      (img.pixels(i * 3 + 2) & 0xff) shouldBe (v * 31 + 5) % 256
    }
  }

  test("indexed PNG malformed-PLTE paths reject, never throw") {
    val pal4 = Array.tabulate(4 * 3)(k => (k * 11).toByte)
    val inRange = Array.tabulate(8 * 8)(i => (i % 4).toByte)
    val good = Multimodal.encodePngIndexed(8, 8, pal4, inRange)
    Multimodal.decodeRasterPixels(good) should not be None
    // an index outside the 4-entry palette is malformed
    val outOfRange = inRange.clone(); outOfRange(10) = 9
    Multimodal.decodeRasterPixels(
      Multimodal.encodePngIndexed(8, 8, pal4, outOfRange)) shouldBe None
    // color type 3 with NO PLTE chunk: excise it (PLTE is chunk #2:
    // 8-byte sig + 25-byte IHDR, then 12 + len PLTE frame)
    val plteLen = ((good(35) & 0xff) << 8) | (good(36) & 0xff) // BE low bytes
    plteLen shouldBe 12 // 4 triples
    val noPlte = good.take(33) ++ good.drop(33 + 12 + 12)
    Multimodal.decodeRasterPixels(noPlte) shouldBe None
    // PLTE length not a multiple of 3 → malformed (flip the length and
    // the walk either fails CRC or the rule check; both reject)
    val badLen = good.clone(); badLen(36) = (badLen(36) + 1).toByte
    Multimodal.decodeRasterPixels(badLen) shouldBe None
  }

  test("EXIF IFD0 round-trips in BOTH byte orders; SHORT and LONG layouts") {
    for (little <- Seq(true, false)) {
      val bytes = Multimodal.encodeExifIfd0(little, 4032L, 3024L, 6)
      Multimodal.parseExifIfd0(bytes) shouldBe
        Some(Multimodal.ExifMeta(if (little) "II" else "MM", 4032L, 3024L, 6))
    }
    // extremes: u32 width (> 16 bits proves LONG really reads 4 bytes),
    // every orientation value
    Multimodal.parseExifIfd0(
      Multimodal.encodeExifIfd0(little = true, 1L << 20, 7L, 1)).get.width shouldBe (1L << 20)
    for (o <- 1 to 8)
      Multimodal.parseExifIfd0(
        Multimodal.encodeExifIfd0(little = false, 8, 8, o)).get.orientation shouldBe o
  }

  test("EXIF parse rejects malformed directories, never throws") {
    val good = Multimodal.encodeExifIfd0(little = true, 100, 100, 1)
    // wrong order mark / wrong magic
    val om = good.clone(); om(0) = 'X'
    Multimodal.parseExifIfd0(om) shouldBe None
    val mg = good.clone(); mg(2) = 43
    Multimodal.parseExifIfd0(mg) shouldBe None
    // IFD offset beyond the buffer
    val off = good.clone(); off(4) = 0xff.toByte
    Multimodal.parseExifIfd0(off) shouldBe None
    // entry count overrunning the buffer
    val cnt = good.clone(); cnt(8) = 0x7f
    Multimodal.parseExifIfd0(cnt) shouldBe None
    // orientation outside 1..8 (SHORT value low bytes, little-endian)
    val bad = good.clone(); bad(10 + 2 * 12 + 8) = 9
    Multimodal.parseExifIfd0(bad) shouldBe None
    // truncated + junk
    Multimodal.parseExifIfd0(good.take(6)) shouldBe None
    Multimodal.parseExifIfd0("IIxx".getBytes) shouldBe None
  }

  test("FLAC STREAMINFO round-trips through encode/parse incl. bit-field extremes") {
    // interchange defaults
    Multimodal.parseFlacStreamInfo(
      Multimodal.encodeFlacHeader(44100, 2, 16, 1234567L)) shouldBe
      Some((44100, 2, 16, 1234567L))
    // field extremes: 20-bit sample rate, 8 channels, 32-bit depth,
    // 36-bit total samples — every bit position in the packed tail
    Multimodal.parseFlacStreamInfo(
      Multimodal.encodeFlacHeader((1 << 20) - 1, 8, 32, (1L << 36) - 1)) shouldBe
      Some(((1 << 20) - 1, 8, 32, (1L << 36) - 1))
    Multimodal.parseFlacStreamInfo(
      Multimodal.encodeFlacHeader(1, 1, 4, 0L)) shouldBe Some((1, 1, 4, 0L))
  }

  test("FLAC parse rejects malformed headers, never throws") {
    val good = Multimodal.encodeFlacHeader(8000, 1, 8, 100L)
    // wrong magic
    val m = good.clone(); m(0) = 'g'
    Multimodal.parseFlacStreamInfo(m) shouldBe None
    // first block not STREAMINFO
    val t = good.clone(); t(4) = (0x80 | 4).toByte
    Multimodal.parseFlacStreamInfo(t) shouldBe None
    // declared length != 34
    val l = good.clone(); l(7) = 33
    Multimodal.parseFlacStreamInfo(l) shouldBe None
    // truncated buffer and arbitrary junk
    Multimodal.parseFlacStreamInfo(good.take(20)) shouldBe None
    Multimodal.parseFlacStreamInfo("not flac at all".getBytes) shouldBe None
  }

  test("MP3 frame header round-trips; frame length matches the public formula") {
    // 128 kbps @ 44100, no padding, joint stereo
    Multimodal.parseMp3FrameHeader(
      Multimodal.encodeMp3FrameHeader(9, 0, 0, 1)) shouldBe
      Some((128, 44100, 1, 144000 * 128 / 44100))
    // padding adds exactly one byte
    Multimodal.parseMp3FrameHeader(
      Multimodal.encodeMp3FrameHeader(9, 0, 1, 1)) shouldBe
      Some((128, 44100, 1, 144000 * 128 / 44100 + 1))
    // 320 kbps @ 32000 mono — table extremes
    Multimodal.parseMp3FrameHeader(
      Multimodal.encodeMp3FrameHeader(14, 2, 0, 3)) shouldBe
      Some((320, 32000, 3, 144000 * 320 / 32000))
  }

  test("MP3 parse rejects reserved/invalid headers, never throws") {
    // broken sync
    Multimodal.parseMp3FrameHeader(Array(0xfe.toByte, 0xfb.toByte, 0x90.toByte, 0x40.toByte)) shouldBe None
    // MPEG-2 (version bits 10) rejected by this MPEG-1-only slice
    Multimodal.parseMp3FrameHeader(Array(0xff.toByte, 0xf3.toByte, 0x90.toByte, 0x40.toByte)) shouldBe None
    // free-format bitrate (0) and bad bitrate (15)
    Multimodal.parseMp3FrameHeader(Array(0xff.toByte, 0xfb.toByte, 0x00.toByte, 0x40.toByte)) shouldBe None
    Multimodal.parseMp3FrameHeader(Array(0xff.toByte, 0xfb.toByte, 0xf0.toByte, 0x40.toByte)) shouldBe None
    // reserved sample-rate index (3)
    Multimodal.parseMp3FrameHeader(Array(0xff.toByte, 0xfb.toByte, 0x9c.toByte, 0x40.toByte)) shouldBe None
    // truncated
    Multimodal.parseMp3FrameHeader(Array(0xff.toByte, 0xfb.toByte)) shouldBe None
  }

  test("rasterFeatures + perceptual/resize compose over PNG inputs") {
    import spark.implicits._
    val px = detRandom(11, 8 * 8)
    val pgm = "P5\n8 8\n255\n".getBytes("ISO-8859-1") ++ px
    val png = Multimodal.encodePng(8, 8, 1, px, y => y % 5)
    val ds = Seq(MediaRow(1, "image", pgm), MediaRow(2, "image", png)).toDS()
    // same pixels, two containers → one pixel_checksum (content dedup)
    val feats = Multimodal.rasterFeatures(ds).collect().sortBy(_.media_id)
    feats(0).pixel_checksum shouldBe feats(1).pixel_checksum
    feats(1).format shouldBe "png"
    // perceptual hashes agree across containers for the same content
    val ph = Multimodal.perceptualFeatures(ds).collect().sortBy(_.media_id)
    ph(0).ahash shouldBe ph(1).ahash
    ph(0).dhash shouldBe ph(1).dhash
  }

  // —— TIFF: strip-organized baseline decode (m19 slice) ——

  test("decodeTiff: round-trips gray/RGB, both endians, all strip layouts") {
    for (ch <- Seq(1, 3); little <- Seq(true, false);
         (w, h, rps) <- Seq((8, 8, 3), (8, 8, 8), (8, 8, 1), (11, 6, 4), (1, 1, 1))) {
      val px = detRandom(ch * 1000 + w * 10 + h + (if (little) 7 else 0), w * h * ch)
      val img = Multimodal.decodeRasterPixels(
        Multimodal.encodeTiff(little, w, h, ch, px, rps)).get
      withClue(s"ch=$ch little=$little ${w}x$h rps=$rps: ") {
        (img.format, img.width, img.height, img.channels) shouldBe
          (("tiff", w, h, ch))
        img.pixels.toSeq shouldBe px.toSeq
      }
    }
  }

  test("decodeTiff: agrees with the JDK's own ImageIO codec, both directions") {
    // direction 1: OUR encoder -> ImageIO's independent decoder (gray
    // multi-strip little-endian AND RGB big-endian single-strip)
    val pxG = Array.tabulate(20 * 9)(i => ((i * 13) % 256).toByte)
    val biG = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(
      Multimodal.encodeTiff(little = true, 20, 9, 1, pxG, rowsPerStrip = 4)))
    biG should not be null
    for (y <- 0 until 9; x <- 0 until 20) {
      val v = pxG(y * 20 + x) & 0xff
      // raw raster sample — getRGB would gamma-map gray into sRGB
      withClue(s"gray ($x,$y): ") {
        biG.getRaster.getSample(x, y, 0) shouldBe v
      }
    }
    val pxC = detRandom(77, 7 * 5 * 3)
    val biC = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(
      Multimodal.encodeTiff(little = false, 7, 5, 3, pxC, rowsPerStrip = 5)))
    biC should not be null
    for (y <- 0 until 5; x <- 0 until 7) {
      val o = (y * 7 + x) * 3
      withClue(s"rgb ($x,$y): ") {
        biC.getRGB(x, y) & 0xffffff shouldBe
          (((pxC(o) & 0xff) << 16) | ((pxC(o + 1) & 0xff) << 8) | (pxC(o + 2) & 0xff))
      }
    }
    // direction 2: ImageIO's independent encoder (uncompressed
    // single-strip big-endian baseline) -> OUR decoder
    val src = new java.awt.image.BufferedImage(11, 6,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until 6; x <- 0 until 11)
      src.getRaster.setSample(x, y, 0, (x * 23 + y * 41) % 256)
    val buf = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(src, "tiff", buf) shouldBe true
    val img = Multimodal.decodeRasterPixels(buf.toByteArray).get
    (img.format, img.width, img.height, img.channels) shouldBe (("tiff", 11, 6, 1))
    for (y <- 0 until 6; x <- 0 until 11)
      withClue(s"($x,$y): ") {
        (img.pixels(y * 11 + x) & 0xff) shouldBe (x * 23 + y * 41) % 256
      }
  }

  test("decodeTiff: malformed directories reject without throwing") {
    val px = detRandom(3, 8 * 8)
    val good = Multimodal.encodeTiff(little = true, 8, 8, 1, px, rowsPerStrip = 3)
    Multimodal.decodeRasterPixels(good) should not be None
    def u16set(b: Array[Byte], off: Int, v: Int): Unit = {
      b(off) = (v & 0xff).toByte; b(off + 1) = ((v >> 8) & 0xff).toByte
    }
    // entry e's tag field sits at ifd+2+12e = 10+12e (IFD at offset 8)
    // swapping two entries breaks the ascending-tag invariant
    val swapped = good.clone()
    val e0 = 10; val e1 = 22
    val tmp = swapped.slice(e0, e0 + 12)
    System.arraycopy(swapped, e1, swapped, e0, 12)
    tmp.copyToArray(swapped, e1)
    Multimodal.decodeRasterPixels(swapped) shouldBe None
    // compression != 1 (LZW declared but stream is raw) rejects
    val lzw = good.clone(); u16set(lzw, 10 + 12 * 3 + 8, 5)
    Multimodal.decodeRasterPixels(lzw) shouldBe None
    // WhiteIsZero photometric is out of the decoded slice
    val white = good.clone(); u16set(white, 10 + 12 * 4 + 8, 0)
    Multimodal.decodeRasterPixels(white) shouldBe None
    // planar config 2 (separate planes) rejects
    val planar = good.clone(); u16set(planar, 10 + 12 * 9 + 8, 2)
    Multimodal.decodeRasterPixels(planar) shouldBe None
    // a lying strip byte count rejects (no partial decode)
    val badCount = good.clone()
    val sbcOff = 134 + 4 * 3 // ext area: 3 strip offsets then 3 counts
    badCount(sbcOff) = (badCount(sbcOff) ^ 1).toByte
    Multimodal.decodeRasterPixels(badCount) shouldBe None
    // truncation anywhere inside the strip data rejects
    for (keep <- Seq(4, 10, 130, good.length - 1))
      withClue(s"keep=$keep: ") {
        Multimodal.decodeRasterPixels(good.take(keep)) shouldBe None
      }
    // the bare EXIF IFD0 wire (m16 payloads: no strip tags) is
    // metadata-only -- pixel decode must fall through cleanly
    Multimodal.decodeRasterPixels(
      Multimodal.encodeExifIfd0(little = true, 40, 30, 1)) shouldBe None
  }

  // —— ID3v2: dual-layout tag metadata (m21 slice) ——

  test("parseId3v2: round-trips both major versions, sizes exact") {
    for (major <- Seq(3, 4); (t, a, b) <- Seq(
        ("Song", "Artist", "Album"),
        ("x", "y", "z"),
        ("a longer title here", "someone", "their record"))) {
      val m = Multimodal.parseId3v2(Multimodal.encodeId3v2(major, t, a, b)).get
      withClue(s"v2.$major ($t/$a/$b): ") {
        (m.version, m.nFrames, m.title, m.artist, m.album) shouldBe
          ((major, 3, t, a, b))
        m.tagSize shouldBe 33 + t.length + a.length + b.length
      }
    }
  }

  test("parseId3v2: malformed tags reject; padding ends the walk") {
    val good = Multimodal.encodeId3v2(4, "Ti", "Ar", "Al")
    Multimodal.parseId3v2(good) should not be None
    // bad magic
    val magic = good.clone(); magic(0) = 'X'
    Multimodal.parseId3v2(magic) shouldBe None
    // unknown major version
    val v5 = good.clone(); v5(3) = 5
    Multimodal.parseId3v2(v5) shouldBe None
    // a set high bit in a header synchsafe byte
    val ss = good.clone(); ss(6) = (ss(6) | 0x80).toByte
    Multimodal.parseId3v2(ss) shouldBe None
    // v2.4 frame size bytes must be synchsafe too
    val fss = good.clone(); fss(10 + 4) = (fss(10 + 4) | 0x80).toByte
    Multimodal.parseId3v2(fss) shouldBe None
    // a lowercase frame id is invalid
    val fid = good.clone(); fid(10) = 't'
    Multimodal.parseId3v2(fid) shouldBe None
    // a non-latin1 text encoding byte is out of slice
    val enc = good.clone(); enc(20) = 1
    Multimodal.parseId3v2(enc) shouldBe None
    // truncation inside the frame area
    for (keep <- Seq(3, 9, 15, good.length - 1))
      withClue(s"keep=$keep: ") {
        Multimodal.parseId3v2(good.take(keep)) shouldBe None
      }
    // padding after the frames parses (spec: zero byte ends the walk)
    val size = good.length - 10 + 8
    val padded = Array[Byte]('I', 'D', '3', 4, 0, 0,
      ((size >> 21) & 0x7f).toByte, ((size >> 14) & 0x7f).toByte,
      ((size >> 7) & 0x7f).toByte, (size & 0x7f).toByte) ++
      good.drop(10) ++ Array.fill(8)(0.toByte)
    val m = Multimodal.parseId3v2(padded).get
    (m.nFrames, m.title) shouldBe ((3, "Ti"))
    m.tagSize shouldBe size
    // a tag missing one of the three standard frames rejects
    val two = Multimodal.encodeId3v2(3, "T", "A", "B")
    val noAlb = two.take(two.length - 12) // drop the TALB frame (1-char)
    val size2 = noAlb.length - 10
    noAlb(6) = ((size2 >> 21) & 0x7f).toByte
    noAlb(7) = ((size2 >> 14) & 0x7f).toByte
    noAlb(8) = ((size2 >> 7) & 0x7f).toByte
    noAlb(9) = (size2 & 0x7f).toByte
    Multimodal.parseId3v2(noAlb) shouldBe None
  }

  test("m24: autocorrelation profile matches a sequential recompute and " +
      "a periodic signal peaks at its period") {
    import spark.implicits._
    // period-4 signal: dominant lag must be 4 (ties with 8 resolve to
    // the smaller lag — the fundamental, not its octave)
    val pattern = Array(100, 50, -100, -50)
    val samples = Array.tabulate(64)(j => pattern(j % 4))
    val rows = Seq(MediaRow(7L, "audio",
      Multimodal.buildPcm16Wav(samples, 8000))).toDS()
    val lags = Seq(1, 2, 3, 4, 8)
    val got = Multimodal.autocorrProfile(
      Multimodal.pcmSampleRows(rows), lags).collect()
    got.map(_.getInt(1)).toSeq shouldBe lags.sorted
    def ref(lag: Int): Long =
      (0 until 64 - lag).map(j => samples(j).toLong * samples(j + lag)).sum
    for (r <- got) {
      r.getLong(2) shouldBe ref(r.getInt(1))
      r.getLong(3) shouldBe (0 until 64).map(j => samples(j).toLong * samples(j)).sum
      r.getInt(4) shouldBe 4
    }
    // R(4) really is the maximum (the periodicity signal is live)
    val byLag = got.map(r => r.getInt(1) -> r.getLong(2)).toMap
    byLag(4) should be > byLag(1)
    byLag(4) should be > byLag(2)
    byLag(4) should be >= byLag(8)
  }

  test("m24 gate: profile over document WAVs matches per-doc recompute " +
      "from text bytes") {
    import spark.implicits._
    val sf = "/root/testdata/sf0.001"
    val texts = graft.Tables.documents(spark, sf)
      .filter(org.apache.spark.sql.functions.length($"text") >= 64)
      .select($"doc_id", $"text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val got = Multimodal.autocorrGate(spark, sf).collect()
    got.map(_.getLong(0)).toSet shouldBe texts.keySet
    for (r <- got.take(40)) {
      val s = texts(r.getLong(0)).getBytes("ISO-8859-1").take(64)
        .map(b => ((b & 0xff) - 96) * 128)
      val lag = r.getInt(1)
      r.getLong(2) shouldBe (0 until 64 - lag)
        .map(j => s(j).toLong * s(j + lag)).sum
      r.getLong(3) shouldBe (0 until 64).map(j => s(j).toLong * s(j)).sum
    }
  }

  test("m25: WebP round-trips all three variants incl. bit-width extremes") {
    val cases = Seq(
      ("VP8 ", 1, 1), ("VP8 ", 16383, 1), ("VP8 ", 640, 16383),
      ("VP8L", 1, 16384), ("VP8L", 16384, 1), ("VP8L", 300, 200),
      ("VP8X", 1, 1), ("VP8X", 1 << 24, 1), ("VP8X", 65536, 1 << 24))
    for ((v, w, h) <- cases) withClue(s"$v ${w}x$h: ") {
      Multimodal.parseWebp(Multimodal.encodeWebp(v, w, h)) shouldBe
        Some(Multimodal.WebpMeta(v, w, h))
    }
    // the pack really uses both bytes of the 14-bit fields: flipping
    // the high byte of a VP8L width changes the parsed width by 256
    val b = Multimodal.encodeWebp("VP8L", 100, 200)
    b(22) = (b(22) ^ 1).toByte // bit 8 of width-1
    Multimodal.parseWebp(b).get.width shouldBe 356
  }

  test("m25: malformed WebP rejects without throwing") {
    val good = Multimodal.encodeWebp("VP8 ", 640, 480)
    def mut(i: Int, v: Int): Array[Byte] = {
      val c = good.clone(); c(i) = v.toByte; c
    }
    Multimodal.parseWebp(mut(0, 'X')) shouldBe None      // not RIFF
    Multimodal.parseWebp(mut(8, 'X')) shouldBe None      // not WEBP
    Multimodal.parseWebp(mut(4, 99)) shouldBe None       // riff size wrong
    Multimodal.parseWebp(mut(23, 0x9c)) shouldBe None    // bad sync code
    Multimodal.parseWebp(mut(20, 1)) shouldBe None       // not a keyframe
    val lossless = Multimodal.encodeWebp("VP8L", 100, 100)
    def mutL(i: Int, v: Int): Array[Byte] = {
      val c = lossless.clone(); c(i) = v.toByte; c
    }
    Multimodal.parseWebp(mutL(20, 0x2e)) shouldBe None   // bad signature
    Multimodal.parseWebp(mutL(24, 0xff)) shouldBe None   // version bits set
    val ext = Multimodal.encodeWebp("VP8X", 4096, 4096)
    def mutX(i: Int, v: Int): Array[Byte] = {
      val c = ext.clone(); c(i) = v.toByte; c
    }
    Multimodal.parseWebp(mutX(20, 0x80)) shouldBe None   // reserved flag bit
    Multimodal.parseWebp(mutX(21, 1)) shouldBe None      // reserved field
    // an unknown first chunk rejects
    Multimodal.parseWebp(mut(12, 'A')) shouldBe None
    // truncation anywhere rejects
    for (keep <- Seq(0, 4, 11, 19, 24, good.length - 1))
      withClue(s"keep=$keep: ") {
        Multimodal.parseWebp(good.take(keep)) shouldBe None
      }
    // zero VP8 dims reject (a 14-bit field of 0 is not an image)
    val z = good.clone(); z(26) = 0; z(27) = 0
    Multimodal.parseWebp(z) shouldBe None
  }

  test("m26: QOI decodes HAND-BUILT byte vectors for every op " +
      "(independent of the encoder)") {
    def header(w: Int, h: Int, ch: Int): Array[Byte] =
      "qoif".getBytes("US-ASCII") ++ Array[Byte](
        0, 0, 0, w.toByte, 0, 0, 0, h.toByte, ch.toByte, 0)
    val end = Array[Byte](0, 0, 0, 0, 0, 0, 0, 1)
    // 3x2 RGB: RGB(10,20,30), RUN(2), DIFF(+1,-1,+1), LUMA(dg=9,
    // dr-dg=-3, db-dg=2), INDEX back to (10,20,30)
    // hash(10,20,30,255) = (30+100+210+2805) % 64 = 9
    val bytes = header(3, 2, 3) ++ Array[Byte](
      0xfe.toByte, 10, 20, 30,            // p0 = (10,20,30)
      (0xc0 | 1).toByte,                  // p1,p2 run of 2
      (0x40 | (3 << 4) | (1 << 2) | 3).toByte, // p3 = (11,19,31)
      (0x80 | (9 + 32)).toByte, (((-3 + 8) << 4) | (2 + 8)).toByte,
                                          // p4 = (11+9-3, 19+9, 31+9+2) = (17,28,42)
      0x09                                // p5 = INDEX(9) = (10,20,30)
    ) ++ end
    val img = Multimodal.decodeQoiPixels(bytes).get
    (img.format, img.width, img.height, img.channels) shouldBe (("qoi", 3, 2, 3))
    img.pixels.map(_ & 0xff).toSeq shouldBe Seq(
      10, 20, 30, 10, 20, 30, 10, 20, 30,
      11, 19, 31, 17, 28, 42, 10, 20, 30)
    // RGBA + wrapping DIFF on a 4-channel image: (250,0,4,128) then
    // DIFF(-2,+1,-2) wraps r to 248... and underflow wraps b 4->2
    val bytes4 = header(2, 1, 4) ++ Array[Byte](
      0xff.toByte, 250.toByte, 0, 4, 128.toByte,
      (0x40 | (0 << 4) | (3 << 2) | 0).toByte // (-2,+1,-2) -> (248,1,2,128)
    ) ++ end
    val img4 = Multimodal.decodeQoiPixels(bytes4).get
    img4.channels shouldBe 4
    img4.pixels.map(_ & 0xff).toSeq shouldBe Seq(
      250, 0, 4, 128, 248, 1, 2, 128)
  }

  test("m26: QOI round-trips through the encoder incl. every op family") {
    // a pixel stream engineered to hit run, index, diff, luma, rgb, rgba
    val px = Array.concat(
      Array(100, 100, 100, 255), Array(100, 100, 100, 255), // run
      Array(101, 99, 101, 255),                             // diff
      Array(120, 118, 121, 255),                            // luma
      Array(7, 200, 33, 255),                               // rgb literal
      Array(7, 200, 33, 10),                                // rgba (alpha)
      Array(100, 100, 100, 255),                            // index? (alpha differs -> rgba)
      Array(7, 200, 33, 10)                                 // index hit
    ).map(_.toByte)
    val img = Multimodal.RasterImage("qoi", 4, 2, 4, px)
    val enc = Multimodal.encodeQoi(img)
    val dec = Multimodal.decodeQoiPixels(enc).get
    dec.pixels.toSeq shouldBe px.toSeq
    (dec.width, dec.height, dec.channels) shouldBe ((4, 2, 4))
    // 3-channel round-trip over pseudo-random pixels (deterministic)
    val px3 = Array.tabulate(8 * 8 * 3)(k => ((k * 31 + 7) % 256).toByte)
    val img3 = Multimodal.RasterImage("qoi", 8, 8, 3, px3)
    Multimodal.decodeQoiPixels(Multimodal.encodeQoi(img3)).get
      .pixels.toSeq shouldBe px3.toSeq
    // a long constant stretch exercises the 62-run flush
    val pxRun = Array.fill(70 * 3)(42.toByte)
    val imgRun = Multimodal.RasterImage("qoi", 70, 1, 3, pxRun)
    Multimodal.decodeQoiPixels(Multimodal.encodeQoi(imgRun)).get
      .pixels.toSeq shouldBe pxRun.toSeq
  }

  test("m26: malformed QOI rejects without throwing") {
    val good = Multimodal.encodeQoi(Multimodal.RasterImage("qoi", 4, 4, 3,
      Array.tabulate(48)(k => (k * 17 % 256).toByte)))
    def mut(i: Int, v: Int): Array[Byte] = {
      val c = good.clone(); c(i) = v.toByte; c
    }
    Multimodal.decodeQoiPixels(mut(0, 'x')) shouldBe None      // magic
    Multimodal.decodeQoiPixels(mut(12, 2)) shouldBe None       // channels
    Multimodal.decodeQoiPixels(mut(13, 2)) shouldBe None       // colorspace
    Multimodal.decodeQoiPixels(mut(7, 0)) shouldBe None        // zero width
    Multimodal.decodeQoiPixels(mut(good.length - 1, 0)) shouldBe None // end marker
    Multimodal.decodeQoiPixels(mut(good.length - 5, 9)) shouldBe None // end zeros
    // truncation anywhere rejects
    for (keep <- Seq(0, 4, 13, 20, good.length - 1))
      withClue(s"keep=$keep: ") {
        Multimodal.decodeQoiPixels(good.take(keep)) shouldBe None
      }
    // a run overflowing the pixel count rejects
    val overrun = "qoif".getBytes("US-ASCII") ++ Array[Byte](
      0, 0, 0, 2, 0, 0, 0, 1, 3, 0,       // 2x1
      0xfe.toByte, 1, 2, 3, (0xc0 | 5).toByte, // run 6 > remaining 1
      0, 0, 0, 0, 0, 0, 0, 1)
    Multimodal.decodeQoiPixels(overrun) shouldBe None
    // too few pixels (stream ends early) rejects
    val short = "qoif".getBytes("US-ASCII") ++ Array[Byte](
      0, 0, 0, 2, 0, 0, 0, 2, 3, 0,       // 2x2 = 4 pixels
      0xfe.toByte, 1, 2, 3,               // only 1 pixel
      0, 0, 0, 0, 0, 0, 0, 1)
    Multimodal.decodeQoiPixels(short) shouldBe None
  }


  /** `f`'s result and the bytes the current thread allocated running it. */
  private def allocating[A](f: => A): (A, Long) = {
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    val t = Thread.currentThread().getId
    val before = mx.getThreadAllocatedBytes(t)
    val r = f
    (r, mx.getThreadAllocatedBytes(t) - before)
  }

  test("QOI and binary PGM headers declaring more pixels than their bytes hold allocate nothing") {
    // 26 bytes: a 16384x8192 RGBA header, four 62-pixel runs, the end marker
    val qoi = "qoif".getBytes("US-ASCII") ++ Array[Byte](0, 0, 0x40, 0, 0, 0, 0x20, 0, 4, 0) ++
      Array.fill(4)((0xc0 | 61).toByte) ++ Array[Byte](0, 0, 0, 0, 0, 0, 0, 1)
    qoi.length shouldBe 26
    val pgm = "P5 16384 16384 255\n".getBytes("US-ASCII") ++ new Array[Byte](64)
    pgm.length shouldBe 83
    for ((name, bytes) <- Seq("qoi" -> qoi, "pgm" -> pgm)) withClue(s"$name: ") {
      Multimodal.decodeRasterPixels(bytes) // loads the classes off the clock
      val (img, allocated) = allocating(Multimodal.decodeRasterPixels(bytes))
      img shouldBe None
      allocated should be < (1L << 20)
    }
  }
  test("m27: all eight EXIF orientations pin hand-computed goldens on " +
      "a 2x3 image, and the group laws hold") {
    // 2 wide x 3 tall, gray: pixels row-major 0..5
    val img = Multimodal.RasterImage("qoi", 2, 3, 1,
      Array[Byte](0, 1, 2, 3, 4, 5))
    def px(o: Int): (Int, Int, Seq[Int]) = {
      val r = Multimodal.applyOrientation(img, o)
      (r.width, r.height, r.pixels.map(_ & 0xff).toSeq)
    }
    px(1) shouldBe ((2, 3, Seq(0, 1, 2, 3, 4, 5)))
    px(2) shouldBe ((2, 3, Seq(1, 0, 3, 2, 5, 4)))          // mirror
    px(3) shouldBe ((2, 3, Seq(5, 4, 3, 2, 1, 0)))          // rot 180
    px(4) shouldBe ((2, 3, Seq(4, 5, 2, 3, 0, 1)))          // flip
    px(5) shouldBe ((3, 2, Seq(0, 2, 4, 1, 3, 5)))          // transpose
    px(6) shouldBe ((3, 2, Seq(4, 2, 0, 5, 3, 1)))          // rot 90 CW
    px(7) shouldBe ((3, 2, Seq(5, 3, 1, 4, 2, 0)))          // transverse
    px(8) shouldBe ((3, 2, Seq(1, 3, 5, 0, 2, 4)))          // rot 270 CW
    // involutions and the 6/8 inverse pair
    for (o <- Seq(2, 3, 4, 5, 7))
      Multimodal.applyOrientation(Multimodal.applyOrientation(img, o), o)
        .pixels.toSeq shouldBe img.pixels.toSeq
    Multimodal.applyOrientation(Multimodal.applyOrientation(img, 6), 8)
      .pixels.toSeq shouldBe img.pixels.toSeq
    // multi-channel blocks move together
    val rgb = Multimodal.RasterImage("qoi", 2, 1, 3,
      Array[Byte](10, 11, 12, 20, 21, 22))
    Multimodal.applyOrientation(rgb, 2).pixels.map(_ & 0xff).toSeq shouldBe
      Seq(20, 21, 22, 10, 11, 12)
  }

  test("m28: animated GIF composites disposal and transparency exactly " +
      "(hand-checked canvases)") {
    import Multimodal.{AnimFrameSpec, RasterImage}
    // 4-entry palette: 0=black 1=red 2=green 3=blue; bg = 3 (blue)
    val pal = Array[Byte](0, 0, 0, -1, 0, 0, 0, -1, 0, 0, 0, -1)
    def rgb(i: Int): Seq[Int] = Seq(pal(i * 3) & 0xff,
      pal(i * 3 + 1) & 0xff, pal(i * 3 + 2) & 0xff)
    // canvas 4x2. Frame 1: full red, disposal 1 (leave).
    // Frame 2: 2x1 patch at (1,1) = [green, transparent idx 0 -> shows
    // frame 1's red underneath].
    val f1 = AnimFrameSpec(0, 0, 4, 2, 10, 1, -1, Array.fill(8)(1.toByte))
    val f2 = AnimFrameSpec(1, 1, 2, 1, 20, 0, 0, Array[Byte](2, 0))
    val anim = Multimodal.decodeGifFrames(
      Multimodal.encodeGifAnim(4, 2, pal, bgIndex = 3, Seq(f1, f2))).get
    (anim.width, anim.height, anim.frames.length) shouldBe ((4, 2, 2))
    anim.frames(0).delay_cs shouldBe 10
    anim.frames(0).disposal shouldBe 1
    anim.frames(0).pixels.map(_ & 0xff).toSeq shouldBe
      (0 until 8).flatMap(_ => rgb(1))
    // frame 2: row 1 pixel (1,1) green, (2,1) STILL RED (transparent
    // over a disposal-1 frame); everything else red
    val expect2 = Seq(rgb(1), rgb(1), rgb(1), rgb(1),
      rgb(1), rgb(2), rgb(1), rgb(1)).flatten
    anim.frames(1).pixels.map(_ & 0xff).toSeq shouldBe expect2

    // disposal 2: frame 1's rect restores to BACKGROUND before frame 2,
    // so the transparent patch pixel now shows blue, and so does the
    // rest of the canvas
    val f1d2 = f1.copy(disposal = 2)
    val anim2 = Multimodal.decodeGifFrames(
      Multimodal.encodeGifAnim(4, 2, pal, bgIndex = 3, Seq(f1d2, f2))).get
    val expect2b = Seq(rgb(3), rgb(3), rgb(3), rgb(3),
      rgb(3), rgb(2), rgb(3), rgb(3)).flatten
    anim2.frames(1).pixels.map(_ & 0xff).toSeq shouldBe expect2b
    // the stills decoder still reads frame 1 of the same bytes
    val still = Multimodal.decodeRasterPixels(
      Multimodal.encodeGifAnim(4, 2, pal, bgIndex = 3,
        Seq(f1.copy(delayCs = 0)))).get
    still.pixels.toSeq shouldBe anim.frames(0).pixels.toSeq
  }

  test("m28: malformed animations reject without throwing") {
    import Multimodal.AnimFrameSpec
    val pal = Array.tabulate(12)(k => (k * 11 % 256).toByte)
    val good = Multimodal.encodeGifAnim(4, 2, pal, 1,
      Seq(AnimFrameSpec(0, 0, 4, 2, 5, 1, -1,
        Array.tabulate(8)(k => (k % 4).toByte))))
    Multimodal.decodeGifFrames(good) should not be None
    def mut(i: Int, v: Int): Array[Byte] = {
      val c = good.clone(); c(i) = v.toByte; c
    }
    Multimodal.decodeGifFrames(mut(0, 'X')) shouldBe None   // magic
    Multimodal.decodeGifFrames(mut(11, 9)) shouldBe None    // bg outside GCT
    // disposal 3 (restore-to-previous) is out of slice: GCE packed is
    // right after 0x21 0xF9 0x04 — find it and set disposal bits to 3
    val gce = (0 until good.length - 2).find(i =>
      (good(i) & 0xff) == 0x21 && (good(i + 1) & 0xff) == 0xf9).get
    Multimodal.decodeGifFrames(mut(gce + 3, 3 << 2)) shouldBe None
    // truncation rejects everywhere
    for (keep <- Seq(0, 5, 12, 20, good.length - 1))
      withClue(s"keep=$keep: ") {
        Multimodal.decodeGifFrames(good.take(keep)) shouldBe None
      }
    // a frame rect outside the canvas rejects at encode (builder) and
    // at decode (hand-patched descriptor)
    an[IllegalArgumentException] should be thrownBy
      Multimodal.encodeGifAnim(4, 2, pal, 1,
        Seq(AnimFrameSpec(3, 0, 2, 2, 0, 0, -1, Array.fill(4)(0.toByte))))
    // trailer missing (no 0x3b): drop the last byte and append a fake
    // extension start instead
    val noTrail = good.dropRight(1)
    Multimodal.decodeGifFrames(noTrail) shouldBe None
  }

  test("m29: stereo WAV round-trips interleaved and the shifted downmix " +
      "floors toward minus infinity") {
    val left = Array(-1, 100, -32768, 32767, 0)
    val right = Array(0, 101, -32768, 32766, -1)
    val a = Multimodal.decodePcmSamples(
      Multimodal.buildPcm16StereoWav(left, right, 8000)).get
    a.channels shouldBe 2
    a.samples.length shouldBe 10
    (0 until 5).foreach { j =>
      a.samples(2 * j) shouldBe left(j)
      a.samples(2 * j + 1) shouldBe right(j)
    }
    // floor((L+R)/2) via the shift: (-1+0)/2 must be -1, not 0 (the
    // truncate-toward-zero answer)
    def mix(l: Int, r: Int): Int = ((l + 32768) + (r + 32768)) / 2 - 32768
    mix(-1, 0) shouldBe -1
    mix(0, -1) shouldBe -1
    mix(-32768, -32768) shouldBe -32768
    mix(32767, 32766) shouldBe 32766
    mix(100, 101) shouldBe 100
  }

  test("histEqualize: hand-built CDF remap, flat image, full stretch") {
    import spark.implicits._
    import graft.operators.Multimodal.MediaRow
    def pgm(w: Int, h: Int, px: Array[Int]): Array[Byte] =
      (s"P5\n$w $h\n255\n".getBytes("ISO-8859-1") ++ px.map(_.toByte))
    def fold(s: Seq[Int]): Long =
      s.foldLeft(0L)((acc, x) => (acc * 31 + x) % 1000000007L)
    val rows = Seq(
      // hist {10:2, 30:1, 200:1} → cdf {10:2, 30:3, 200:4}, cdf_min=2
      // → out(10)=0, out(30)=255//2=127, out(200)=255
      MediaRow(1L, "image", pgm(2, 2, Array(10, 10, 200, 30))),
      // flat image: n == cdf_min → everything 0
      MediaRow(2L, "image", pgm(2, 2, Array(50, 50, 50, 50)))
    ).toDS()
    val out = Multimodal.histEqualize(rows).collect()
      .map(r => r.getLong(0) -> r).toMap
    val r1 = out(1L)
    (r1.getInt(3), r1.getInt(4)) shouldBe ((10, 200))
    (r1.getInt(5), r1.getInt(6)) shouldBe ((0, 255))
    r1.getLong(7) shouldBe fold(Seq(0, 0, 255, 127))
    val r2 = out(2L)
    (r2.getInt(5), r2.getInt(6)) shouldBe ((0, 0))
    r2.getLong(7) shouldBe 0L
    // gate corpus: equalization stretches to the full range everywhere
    // (word-soup prefixes always carry at least two gray levels)
    val gate = SparkEntry.queries("m31_hist_equalize")(spark, "/root/testdata/sf0.001")
      .collect()
    gate should not be empty
    gate.foreach { r =>
      r.getInt(5) shouldBe 0
      r.getInt(6) shouldBe 255
      r.getInt(3) should be < r.getInt(4)
    }
  }

  test("otsuThreshold: hand-built argmax, tie-break, flat fallback, gate laws") {
    import spark.implicits._
    import graft.operators.Multimodal.MediaRow
    def pgm(w: Int, h: Int, px: Array[Int]): Array[Byte] =
      (s"P5\n$w $h\n255\n".getBytes("ISO-8859-1") ++ px.map(_.toByte))
    def fold(s: Seq[Int]): Long =
      s.foldLeft(0L)((acc, x) => (acc * 31 + x) % 1000000007L)
    def score(num: Long, n0: Long, n1: Long): Long =
      num * num * 1048576L / (n0 * n1)
    val rows = Seq(
      // bimodal: the only candidate is v=10 — clean fg/bg split
      MediaRow(1L, "image", pgm(2, 2, Array(10, 10, 200, 200))),
      // 4 levels: v=85 wins (computed below)
      MediaRow(2L, "image", pgm(2, 2, Array(0, 85, 170, 255))),
      // exact score tie between v=0 and v=100 — smallest level wins
      MediaRow(3L, "image", pgm(3, 1, Array(0, 100, 200))),
      // flat image: no candidate — single-level fallback
      MediaRow(4L, "image", pgm(2, 2, Array(50, 50, 50, 50)))
    ).toDS()
    val out = Multimodal.otsuThreshold(rows).collect()
      .map(r => r.getLong(0) -> r).toMap
    val r1 = out(1L)
    r1.getInt(1) shouldBe 10
    r1.getLong(2) shouldBe score(20 * 2 - 400 * 2, 2, 2)
    (r1.getLong(3), r1.getLong(4)) shouldBe ((2L, 2L))
    r1.getLong(5) shouldBe fold(Seq(0, 0, 255, 255))
    // 0/85/170/255: scores are 510²·2^20/3 (v=0), 680²·2^20/4 (v=85),
    // 510²·2^20/3 (v=170) — the middle split wins
    val r2 = out(2L)
    r2.getInt(1) shouldBe 85
    r2.getLong(2) shouldBe score(85 * 2 - 425 * 2, 2, 2)
    (r2.getLong(3), r2.getLong(4)) shouldBe ((2L, 2L))
    // symmetric 0/100/200: v=0 and v=100 score identically — tie-break
    // takes the smaller threshold
    val r3 = out(3L)
    score(-300, 1, 2) shouldBe score(-300, 2, 1) // the tie is real
    r3.getInt(1) shouldBe 0
    (r3.getLong(3), r3.getLong(4)) shouldBe ((1L, 2L))
    val r4 = out(4L)
    (r4.getInt(1), r4.getLong(2)) shouldBe ((50, 0L))
    (r4.getLong(3), r4.getLong(4)) shouldBe ((4L, 0L))
    r4.getLong(5) shouldBe 0L
    // gate corpus: every 8x8 image splits into non-empty classes that
    // sum to 64 (word-soup prefixes always carry >= 2 gray levels)
    val gate = SparkEntry.queries("m36_otsu")(spark, "/root/testdata/sf0.001").collect()
    gate should not be empty
    gate.foreach { r =>
      r.getInt(1) should (be >= 0 and be <= 255)
      r.getLong(2) should be > 0L
      r.getLong(3) + r.getLong(4) shouldBe 64L
      r.getLong(3) should be > 0L
      r.getLong(4) should be > 0L
    }
  }

  test("sobelEdges: hand-built gradients, kernel orientation, gate laws") {
    import spark.implicits._
    import graft.operators.Multimodal.MediaRow
    def pgm(w: Int, h: Int, px: Array[Int]): Array[Byte] =
      (s"P5\n$w $h\n255\n".getBytes("ISO-8859-1") ++ px.map(_.toByte))
    val vStep = Array(0, 0, 255, 0, 0, 255, 0, 0, 255) // vertical edge
    val hStep = Array(0, 0, 0, 0, 0, 0, 255, 255, 255) // horizontal edge
    val flat = Array.fill(9)(77)
    val out = Multimodal.sobelEdges(Seq(
      MediaRow(1L, "image", pgm(3, 3, vStep)),
      MediaRow(2L, "image", pgm(3, 3, hStep)),
      MediaRow(3L, "image", pgm(3, 3, flat))
    ).toDS()).collect().map(r => r.getLong(0) -> r).toMap
    // one interior pixel; Gx over the right column = (1+2+1)·255,
    // Gy = 0 on the vertical edge — and exactly transposed on the
    // horizontal one (kernel orientation pinned)
    val r1 = out(1L)
    (r1.getLong(1), r1.getLong(2)) shouldBe ((1L, 1L))
    (r1.getLong(3), r1.getLong(4)) shouldBe ((1020L, 1020L))
    r1.getLong(5) shouldBe 1020L % 1000000007L
    out(2L).getLong(3) shouldBe 1020L
    val r3 = out(3L)
    (r3.getLong(2), r3.getLong(3), r3.getLong(4)) shouldBe ((0L, 0L, 0L))
    // gate corpus: 8x8 images -> 36 interior pixels each, and the
    // word-soup rasters are never gradient-free
    val gate = SparkEntry.queries("m37_sobel")(spark, "/root/testdata/sf0.001").collect()
    gate should not be empty
    gate.foreach { r =>
      r.getLong(1) shouldBe 36L
      r.getLong(3) should be > 0L
      r.getLong(2) should be <= 36L
    }
  }

  test("ccLabel: diagonal split, adjacency merge, row-wrap guard, " +
      "m36 threshold agreement") {
    import spark.implicits._
    import graft.operators.Multimodal.MediaRow
    def pgm(w: Int, h: Int, px: Array[Int]): Array[Byte] =
      (s"P5\n$w $h\n255\n".getBytes("ISO-8859-1") ++ px.map(_.toByte))
    def fold(s: Seq[Long]): Long =
      s.foldLeft(0L)((acc, x) => (acc * 31 + x) % 1000000007L)
    val out = Multimodal.ccLabel(Seq(
      // two DIAGONAL fg pixels: 4-connectivity must NOT merge them
      MediaRow(1L, "image", pgm(3, 3, Array(200, 0, 0, 0, 200, 0, 0, 0, 0))),
      // two ADJACENT fg pixels: one component, labeled by the min index
      MediaRow(2L, "image", pgm(3, 3, Array(200, 200, 0, 0, 0, 0, 0, 0, 0))),
      // row wrap: fg at (y=0,x=7) and (y=1,x=0) are index-consecutive
      // but NOT spatially adjacent — the x-boundary guard must split
      MediaRow(3L, "image", pgm(8, 2, Array.tabulate(16)(i =>
        if (i == 7 || i == 8) 200 else 0)))
    ).toDS()).collect().map(r => r.getLong(0) -> r).toMap
    val r1 = out(1L)
    (r1.getLong(2), r1.getLong(3), r1.getLong(4)) shouldBe ((2L, 2L, 1L))
    r1.getLong(5) shouldBe fold(Seq(1L, 0, 0, 0, 5L, 0, 0, 0, 0))
    val r2 = out(2L)
    (r2.getLong(2), r2.getLong(3), r2.getLong(4)) shouldBe ((2L, 1L, 2L))
    r2.getLong(5) shouldBe fold(Seq(1L, 1L, 0, 0, 0, 0, 0, 0, 0))
    val r3 = out(3L)
    (r3.getLong(2), r3.getLong(3)) shouldBe ((2L, 2L))
    // gate corpus: thresholds agree with m36 (one algorithm, two call
    // sites), components partition the foreground
    val cc = SparkEntry.queries("m38_cc_label")(spark, "/root/testdata/sf0.001")
      .collect().map(r => r.getLong(0) -> r).toMap
    val otsu = SparkEntry.queries("m36_otsu")(spark, "/root/testdata/sf0.001")
      .collect().map(r => r.getLong(0) -> r).toMap
    cc.keySet shouldBe otsu.keySet
    cc.foreach { case (id, r) =>
      r.getInt(1) shouldBe otsu(id).getInt(1)
      r.getLong(2) shouldBe otsu(id).getLong(4) // n_fg
      r.getLong(3) should be >= 1L
      r.getLong(4) should be <= r.getLong(2)
      r.getLong(3) should be <= r.getLong(2)
    }
  }

  test("histEntropy: hand-built bit values, flat floor, gate bounds") {
    import spark.implicits._
    import graft.operators.Multimodal.MediaRow
    def pgm(w: Int, h: Int, px: Array[Int]): Array[Byte] =
      (s"P5\n$w $h\n255\n".getBytes("ISO-8859-1") ++ px.map(_.toByte))
    val out = Multimodal.histEntropy(Seq(
      MediaRow(1L, "image", pgm(2, 2, Array(7, 7, 7, 7))), // flat: H = 0
      MediaRow(2L, "image", pgm(2, 2, Array(0, 0, 9, 9))), // 50/50: H = 1 bit
      MediaRow(3L, "image", pgm(2, 2, Array(1, 2, 3, 4))) // uniform: H = 2 bits
    ).toDS()).collect().map(r => r.getLong(0) -> r).toMap
    val r1 = out(1L)
    (r1.getLong(1), r1.getInt(2), r1.getInt(3)) shouldBe ((1L, 7, 7))
    (r1.getLong(4), r1.getLong(5)) shouldBe ((0L, 0L))
    // the fixed-point grid is EXACT at power-of-two splits
    out(2L).getLong(5) shouldBe 1000L
    out(3L).getLong(5) shouldBe 2000L
    // gate corpus: 8x8 word-soup rasters carry real entropy, bounded
    // by log2(64) = 6 bits
    val gate = SparkEntry.queries("m39_hist_entropy")(spark, "/root/testdata/sf0.001")
      .collect()
    gate should not be empty
    gate.foreach { r =>
      r.getLong(1) should be >= 2L
      r.getLong(5) should (be > 0L and be <= 6000L)
      r.getInt(2) should be <= r.getInt(3)
    }
  }

  test("otsu2Threshold: hand-built pair argmax, fallbacks, gate laws") {
    import spark.implicits._
    import graft.operators.Multimodal.MediaRow
    def pgm(w: Int, h: Int, px: Array[Int]): Array[Byte] =
      (s"P5\n$w $h\n255\n".getBytes("ISO-8859-1") ++ px.map(_.toByte))
    def fold(s: Seq[Int]): Long =
      s.foldLeft(0L)((acc, x) => (acc * 31 + x) % 1000000007L)
    val out = Multimodal.otsu2Threshold(Seq(
      // three levels: the only valid pair is (0, 128)
      MediaRow(1L, "image", pgm(2, 2, Array(0, 0, 128, 255))),
      // two levels: no pair leaves the upper class non-empty — fallback
      MediaRow(2L, "image", pgm(2, 2, Array(0, 0, 255, 255))),
      // flat: fallback to the single level
      MediaRow(3L, "image", pgm(2, 2, Array(9, 9, 9, 9)))
    ).toDS()).collect().map(r => r.getLong(0) -> r).toMap
    val r1 = out(1L)
    (r1.getInt(1), r1.getInt(2)) shouldBe ((0, 128))
    r1.getLong(3) shouldBe (128L * 128 + 255L * 255) * 1048576L
    (r1.getLong(4), r1.getLong(5), r1.getLong(6)) shouldBe ((2L, 1L, 1L))
    r1.getLong(7) shouldBe fold(Seq(0, 0, 128, 255))
    val r2 = out(2L)
    (r2.getInt(1), r2.getInt(2), r2.getLong(3)) shouldBe ((255, 255, 0L))
    (r2.getLong(4), r2.getLong(5), r2.getLong(6)) shouldBe ((4L, 0L, 0L))
    val r3 = out(3L)
    (r3.getInt(1), r3.getInt(2), r3.getLong(3)) shouldBe ((9, 9, 0L))
    // gate corpus: classes partition 64 pixels, and the word-soup
    // rasters genuinely split three ways somewhere
    val gate = SparkEntry.queries("m40_otsu2")(spark, "/root/testdata/sf0.001").collect()
    gate should not be empty
    gate.foreach { r =>
      r.getLong(4) + r.getLong(5) + r.getLong(6) shouldBe 64L
      r.getInt(1) should be <= r.getInt(2)
    }
    gate.count(r => r.getLong(5) > 0 && r.getLong(6) > 0) should be > 0
  }

  test("patchify: geometry pins, partial patches dropped, stats law") {
    import spark.implicits._
    import graft.operators.Multimodal.MediaRow
    def pgm(w: Int, h: Int, px: Array[Int]): Array[Byte] =
      (s"P5\n$w $h\n255\n".getBytes("ISO-8859-1") ++ px.map(_.toByte))
    def fold(s: Seq[Int]): Long =
      s.foldLeft(0L)((acc, x) => (acc * 31 + x) % 1000000007L)
    // 8x4 image with distinct pixels: values = row*16 + col
    val px = (for (y <- 0 until 4; x <- 0 until 8) yield y * 16 + x).toArray
    val out = Multimodal.patchify(
      Seq(MediaRow(1L, "image", pgm(8, 4, px))).toDS()).collect()
      .map(r => (r.getInt(1), r.getInt(2)) -> r).toMap
    out.size shouldBe 2 // one patch row, two patch cols
    // patch (0,1) holds columns 4..7 of rows 0..3, row-major
    val exp = for (y <- 0 until 4; x <- 4 until 8) yield y * 16 + x
    val p01 = out((0, 1))
    p01.getLong(3) shouldBe exp.map(_.toLong).sum
    (p01.getInt(4), p01.getInt(5)) shouldBe ((4, 55))
    p01.getLong(6) shouldBe exp.map(_.toLong).sum / 16
    p01.getLong(7) shouldBe fold(exp)
    // a 6x6 image with p=4 keeps only the one full 4x4 patch
    val out2 = Multimodal.patchify(
      Seq(MediaRow(2L, "image", pgm(6, 6, Array.fill(36)(9)))).toDS())
      .collect()
    out2.length shouldBe 1
    out2(0).getLong(3) shouldBe 9L * 16
  }

  test("rleSignal: hand-built runs, incompressible case, corpus laws") {
    import spark.implicits._
    import graft.operators.Multimodal.MediaRow
    def pgm(w: Int, h: Int, px: Array[Int]): Array[Byte] =
      (s"P5\n$w $h\n255\n".getBytes("ISO-8859-1") ++ px.map(_.toByte))
    val rows = Seq(
      MediaRow(1L, "image", pgm(8, 1, Array(5, 5, 5, 9, 9, 7, 7, 7))),
      MediaRow(2L, "image", pgm(8, 1, Array(1, 2, 3, 4, 5, 6, 7, 8)))
    ).toDS()
    val out = Multimodal.rleSignal(rows).collect()
      .map(r => r.getLong(0) -> r).toMap
    val r1 = out(1L)
    (r1.getInt(2), r1.getInt(3)) shouldBe ((3, 3))
    r1.getLong(4) shouldBe 6L
    r1.getLong(5) shouldBe 6L * 1000000 / 8
    r1.getBoolean(6) shouldBe true
    val r2 = out(2L)
    r2.getInt(2) shouldBe 8
    r2.getBoolean(6) shouldBe false
    // corpus laws: distinct never exceeds runs, runs never exceed px
    val gate = SparkEntry.queries("m33_rle_signal")(spark, "/root/testdata/sf0.001")
      .collect()
    gate should not be empty
    gate.foreach { r =>
      r.getInt(2) should be <= r.getInt(1)
      r.getInt(3) should be <= r.getInt(2)
    }
    // word-soup prefixes genuinely carry repeated-letter runs somewhere
    gate.exists(_.getInt(2) < 64) shouldBe true
  }

  test("orderedDither: mid-gray halves, extremes saturate, phase pinned") {
    import spark.implicits._
    import graft.operators.Multimodal.MediaRow
    def pgm(px: Array[Int]): Array[Byte] =
      ("P5\n8 8\n255\n".getBytes("ISO-8859-1") ++ px.map(_.toByte))
    val bayer = Array(0, 8, 2, 10, 12, 4, 14, 6, 3, 11, 1, 9, 15, 7, 13, 5)
    def fold(s: Seq[Int]): Long =
      s.foldLeft(0L)((acc, x) => (acc * 31 + x) % 1000000007L)
    val out = Multimodal.orderedDither(Seq(
      MediaRow(1L, "image", pgm(Array.fill(64)(128))),
      MediaRow(2L, "image", pgm(Array.fill(64)(0))),
      MediaRow(3L, "image", pgm(Array.fill(64)(255)))).toDS())
      .collect().map(r => r.getLong(0) -> r).toMap
    // mid-gray: white iff 128 > 16B+8 ⇔ B <= 7 — exactly half the tile
    out(1L).getInt(2) shouldBe 32
    // the dithered stream recomputes with the tile phase intact
    val expMid = for (y <- 0 until 8; x <- 0 until 8) yield
      if (128 > 16 * bayer((y % 4) * 4 + (x % 4)) + 8) 255 else 0
    out(1L).getLong(3) shouldBe fold(expMid)
    // extremes: 0 never clears any threshold; 255 clears all
    out(2L).getInt(2) shouldBe 0
    out(3L).getInt(2) shouldBe 64
  }

  test("glcmStats: hand pairs, flat-vs-texture separation") {
    import spark.implicits._
    import graft.operators.Multimodal.MediaRow
    def pgm(w: Int, h: Int, px: Array[Int]): Array[Byte] =
      (s"P5\n$w $h\n255\n".getBytes("ISO-8859-1") ++ px.map(_.toByte))
    // 4x1: pairs (10,20),(20,20),(20,5): contrast 100+0+225 = 325;
    // counts all distinct → energy 3; homogeneity floor ppm per pair
    val out = Multimodal.glcmStats(Seq(
      MediaRow(1L, "image", pgm(4, 1, Array(10, 20, 20, 5))),
      MediaRow(2L, "image", pgm(4, 2, Array.fill(8)(77))),
      MediaRow(3L, "image", pgm(4, 2, Array(0, 255, 0, 255, 255, 0, 255, 0)))
    ).toDS()).collect().map(r => r.getLong(0) -> r).toMap
    val r1 = out(1L)
    r1.getLong(1) shouldBe 3L
    r1.getLong(2) shouldBe 325L
    r1.getLong(3) shouldBe 3L
    r1.getLong(4) shouldBe
      1000000L / (101 * 3) + 1000000L / 3 + 1000000L / (226 * 3)
    // flat image: zero contrast, maximal energy (all pairs identical),
    // homogeneity at the ppm ceiling (up to floor loss)
    val r2 = out(2L)
    r2.getLong(2) shouldBe 0L
    r2.getLong(3) shouldBe 36L // 6 identical pairs → 6²
    r2.getLong(4) should be >= 1000000L - r2.getLong(1)
    // checkerboard: max contrast per pair, energy from two cells
    val r3 = out(3L)
    r3.getLong(2) shouldBe 6L * 255 * 255
    r3.getLong(3) shouldBe 2L * 9 // two (a,b) cells of 3 pairs each
    // the separation the feature exists for
    r3.getLong(2) should be > r2.getLong(2)
    r2.getLong(3) should be > r3.getLong(3)
  }
}
