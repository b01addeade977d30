package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec

/** The round-4 signature builds (map-side-combinable min/sum aggregates)
  * must be BIT-IDENTICAL to the list forms they replaced (collect_list +
  * the codegen'd Sig expressions) — min over a group commutes with min
  * over a list, integer vote sums are order-free. Asserted on real
  * corpus data so the two definitions can never drift.
  */
class SigAggParitySpec extends AnyFunSuite with Matchers with SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("aggregate minhash signatures equal the list-form signatures") {
    import spark.implicits._
    val sh = Dedup.shingleSet(spark, sf, None)
    val withIds = sh.withColumn("sid", abs(xxhash64($"sh")) % lit(Dedup.Prime))
    val agg = Dedup.signatures(withIds).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val lists = Dedup.signaturesViaLists(withIds).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    agg.keySet shouldBe lists.keySet
    agg.foreach { case (id, sig) => sig shouldBe lists(id) }
    agg should not be empty
  }

  test("aggregate simhash fingerprints equal the list-form fingerprints") {
    for (bits <- Seq(16, 32)) {
      val agg = Dedup.simHashBits(spark, sf, bits).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      graft.Caches.releaseAll(spark)
      val lists = Dedup.simHashBitsViaLists(spark, sf, bits).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      graft.Caches.releaseAll(spark)
      withClue(s"bits=$bits: ") {
        agg.keySet shouldBe lists.keySet
        agg.foreach { case (id, fp) => fp shouldBe lists(id) }
        agg should not be empty
      }
    }
  }

  test("hashed and dictionary minhash LSH both pair the planted exact duplicate") {
    val dir = java.nio.file.Files.createTempDirectory("graft-lsh-fixture").toFile
    dir.deleteOnExit()
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    // both forms sample doc_id % 10 == 0, so doc 5 stays out
    Seq(0L -> base, 10L -> base, 5L -> base,
        20L -> "completely unrelated text about spark catalyst expression codegen")
      .map { case (id, t) => (id, t, "en", "synth", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] = {
      val out = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      graft.Caches.releaseAll(spark)
      out
    }
    pairs(Dedup.minHashLsh(spark, dir.getAbsolutePath)) should contain((0L, 10L))
    pairs(Dedup.minHashLshHashed(spark, dir.getAbsolutePath)) shouldBe Set((0L, 10L))
  }
}
