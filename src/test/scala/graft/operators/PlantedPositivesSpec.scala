package graft.operators

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.{Caches, SparkSpec}

/** Planted positives for the gated queries whose oracle compare at
  * sf0.01 is vacuous or nearly so: d02_ngram_jaccard and
  * d07_decontaminate match 0 rows against 0 rows, d03_minhash_lsh and
  * d05_embed_neardup 1 row against 1 row. Each case writes a small
  * documents or embeddings table whose matches are known in advance,
  * runs the gated builder with its default arguments, and asserts the
  * exact rows, so a builder that emits nothing (or one pair) cannot
  * pass.
  */
class PlantedPositivesSpec extends AnyFunSuite with Matchers with SparkSpec {

  private def words(prefix: String, n: Int): Seq[String] = (1 to n).map(i => s"$prefix$i")

  private def sfDir(docs: Seq[(Long, String)]): String = {
    val dir = Files.createTempDirectory("graft-planted").toFile
    dir.deleteOnExit()
    import spark.implicits._
    docs.map { case (id, text) => (id, text, "en", "synth", text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    dir.getAbsolutePath
  }

  private def embeddingsDir(vecs: Seq[(Long, Seq[Float])]): String = {
    val dir = Files.createTempDirectory("graft-planted").toFile
    dir.deleteOnExit()
    import spark.implicits._
    vecs.map { case (id, v) => (id, v, 0) }
      .toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    dir.getAbsolutePath
  }

  test("d02 ngramJaccard reports exactly the planted near- and exact-duplicate pairs") {
    // 12 distinct tokens give 10 distinct 3-shingles; changing the last
    // token changes only the last shingle, so J = 9 / 11
    val base = words("alpha", 12)
    val near = base.init :+ "omega"
    val dir = sfDir(Seq(
      0L -> base.mkString(" "),
      10L -> near.mkString(" "),
      20L -> words("beta", 12).mkString(" "),
      30L -> base.mkString(" "),
      // sampled out: doc_id % 10 != 0, and doc_id past the 10 * 512 cap
      15L -> base.mkString(" "),
      5120L -> base.mkString(" ")))
    val rows = Dedup.ngramJaccard(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    Caches.releaseAll(spark)
    val j = BigDecimal(9.0 / 11).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    rows shouldBe Seq((0L, 10L, j), (0L, 30L, 1.0), (10L, 30L, j))
  }

  test("d07 decontaminate flags exactly the docs sharing >= 5 benchmark 3-shingles") {
    // docs 0 and 97 are the stand-in benchmark (doc_id % 97 == 0)
    val bench1 = words("gamma", 12)
    val bench2 = words("delta", 12)
    val dir = sfDir(Seq(
      0L -> bench1.mkString(" "),
      97L -> bench2.mkString(" "),
      // 8 consecutive benchmark tokens inside other text: 6 shared shingles
      1L -> (words("one", 5) ++ bench1.take(8) ++ words("uno", 5)).mkString(" "),
      // 6 consecutive tokens: 4 shared shingles, under the threshold
      2L -> (words("two", 5) ++ bench1.slice(3, 9) ++ words("dos", 5)).mkString(" "),
      // the whole second benchmark doc: 10 shared shingles
      3L -> (words("three", 4) ++ bench2).mkString(" "),
      // benchmark tokens in reverse order share no shingle
      4L -> bench1.reverse.mkString(" "),
      // a benchmark doc is never flagged, whatever it contains
      194L -> bench1.mkString(" ")))
    val rows = TextAnalysis.decontaminate(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    Caches.releaseAll(spark)
    rows shouldBe Seq((1L, 6L), (3L, 10L))
  }

  test("d03 minHashLsh pairs exactly the planted duplicate and near-duplicate docs") {
    // 40 distinct tokens give 38 distinct 3-shingles; changing the last
    // token changes one of them (J = 37/39), so some band of 4 of the 16
    // minhashes agrees; an exact copy agrees in every band
    val base = words("kappa", 40)
    val dir = sfDir(Seq(
      0L -> base.mkString(" "),
      10L -> base.mkString(" "),
      20L -> (base.init :+ "omega").mkString(" "),
      30L -> words("lambda", 40).mkString(" "),
      40L -> words("mu", 40).mkString(" "),
      // outside the doc_id % 10 sample
      15L -> base.mkString(" ")))
    val rows = Dedup.minHashLsh(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    Caches.releaseAll(spark)
    rows shouldBe Seq((0L, 10L), (0L, 20L), (10L, 20L))
  }

  test("d05 embeddingNearDup reports exactly the planted pairs at cos >= 0.2") {
    def vec(nonZero: (Int, Float)*): Seq[Float] = {
      val v = Array.fill(64)(0f)
      nonZero.foreach { case (i, x) => v(i) = x }
      v.toSeq
    }
    val a = vec(0 -> 3f, 1 -> 4f)
    val dir = embeddingsDir(Seq(
      0L -> a,
      50L -> vec(0 -> 4f, 1 -> 3f), // cos 24/25 with a
      100L -> a, // an exact copy
      150L -> vec(2 -> 1f),
      200L -> vec(2 -> 1f, 3 -> 5f), // cos 1/sqrt(26) < 0.2 with 150
      250L -> vec(2 -> 1f, 3 -> 4f), // cos 1/sqrt(17) with 150
      // outside the vec_id % 50 == 0, vec_id < 50 * 256 sample
      25L -> a,
      12800L -> a))
    val rows = Dedup.embeddingNearDup(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    Caches.releaseAll(spark)
    def cos(dot: Double, n1: Double, n2: Double): Double =
      BigDecimal(dot / math.sqrt(n1 * n2)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    rows shouldBe Seq(
      (0L, 50L, 0.96), (0L, 100L, 1.0), (50L, 100L, 0.96),
      (150L, 250L, cos(1, 1, 17)), (200L, 250L, cos(21, 26, 17)))
  }
}
