package graft.osm

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.osm.pbf.Proto

/** Property tests for the wire-format primitives the PBF decoder is
  * built on (varint/zigzag/packed-delta round-trips through the
  * test-side encoder). Plain scalacheck runner (no scalatestplus
  * bridge on the classpath).
  */
class ProtoPropSpec extends AnyFunSuite with Matchers {

  private def check(p: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), p)
    withClue(res.status.toString) { res.passed shouldBe true }
  }

  test("varint round-trips any long") {
    check(Prop.forAll { (v: Long) =>
      val w = new PbfTestData.W
      w.varint(v)
      Proto.reader(w.toArray).readVarint() == v
    })
  }

  test("zigzag round-trips any long") {
    check(Prop.forAll { (v: Long) =>
      val w = new PbfTestData.W
      Proto.zigzag(w.zig(v)) == v
    })
  }

  test("packed delta-zigzag round-trips any sequence") {
    check(Prop.forAll(Gen.listOf(Gen.chooseNum(Long.MinValue / 4, Long.MaxValue / 4))) { vs =>
      val w = new PbfTestData.W
      w.packedDeltaZig(1, vs)
      val r = Proto.reader(w.toArray)
      (r.readTag() >> 3) == 1 && r.readPackedDeltaZigzag().toSeq == vs
    })
  }

  test("blob payloads round-trip through every implemented codec") {
    // arbitrary payloads (incl. empty, highly-repetitive, and random —
    // scalacheck shrinks toward the interesting ends) encoded by the
    // test-side writer and decoded by the production blob decoder
    val payloadGen = Gen.oneOf(
      Gen.listOf(Gen.chooseNum(Byte.MinValue, Byte.MaxValue)).map(_.toArray),
      Gen.chooseNum(0, 70000).map(n => Array.fill[Byte](n)(7)), // runs past 64 KiB
      Gen.chooseNum(0, 4096).map(n => Array.tabulate[Byte](n)(i => (i % 251).toByte)))
    for (codec <- Seq("raw", "zlib", "lz4", "zstd")) {
      check(Prop.forAll(payloadGen) { payload =>
        // frameBlobCodec wraps in [len][BlobHeader][Blob]; slice the Blob out
        val framed = PbfTestData.frameBlobCodec("OSMData", payload, codec)
        val headerLen = ((framed(0) & 0xff) << 24) | ((framed(1) & 0xff) << 16) |
          ((framed(2) & 0xff) << 8) | (framed(3) & 0xff)
        val blob = java.util.Arrays.copyOfRange(framed, 4 + headerLen, framed.length)
        java.util.Arrays.equals(
          graft.osm.pbf.PbfDecode.decompressBlob(blob), payload)
      })
    }
  }

  test("entity invariants on the golden fixture block") {
    import graft.osm.pbf.PbfDecode
    val schema = OsmSchemas.Planet
    val rows = PbfDecode.decodePrimitiveBlock(PbfTestData.primitiveBlock()).map(_.copy()).toSeq
    rows.length shouldBe 6
    def col(name: String) = schema.fieldIndex(name)
    // union-encoding invariants (SURVEY §1.1)
    rows.foreach { r =>
      r.getUTF8String(col("type")).toString match {
        case "node" =>
          val lat = r.getDecimal(col("lat"), 9, 7).toJavaBigDecimal.movePointRight(9).longValueExact
          lat should (be >= -90000000000L and be <= 90000000000L)
        case "way" => r.getArray(col("nds")).numElements() should be > 0
        case "relation" =>
          val members = r.getArray(col("members"))
          (0 until members.numElements()).foreach { i =>
            val m = members.getStruct(i, 3)
            (0 until 3).foreach(f => m.isNullAt(f) shouldBe false)
          }
      }
    }
  }
}
