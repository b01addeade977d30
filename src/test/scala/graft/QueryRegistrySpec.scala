package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The invariants of the one query registry, [[SparkEntry.all]]: the
  * derived maps can neither drop a declaration to a duplicate key nor
  * lose a gate or a bench resample to a rename.
  */
class QueryRegistrySpec extends AnyFunSuite with Matchers {

  private val all = SparkEntry.all
  private val oracleNames = all.collect { case Query(n, _, Oracle(_), _) => n }
  private val specGated = all.collect { case Query(n, _, g: SpecGated, _) => n -> g }

  test("declared query names are unique") {
    all.map(_.name).groupBy(identity).collect { case (n, ns) if ns.size > 1 => n } shouldBe empty
    SparkEntry.queries.size shouldBe all.size
  }

  test("289 declarations: 286 oracle-gated and 3 spec-gated") {
    all.size shouldBe 289
    oracleNames.size shouldBe 286
    specGated.map(_._1).toSet shouldBe
      Set("d03_minhash_lsh_hashed", "d04_simhash_pairs_hashed", "t21_learned_bpe")
  }

  test("oracleSql holds exactly the oracle-gated declarations") {
    SparkEntry.oracleSql.keySet shouldBe oracleNames.toSet
  }

  test("every spec a spec-gated declaration names loads, with a reason") {
    for ((name, SpecGated(specs, reason)) <- specGated) withClue(name) {
      specs should not be empty
      reason should not be empty
      specs.foreach(s => noException should be thrownBy Class.forName(s))
    }
  }

  test("the bench resamples the canonicalize-pipeline queries") {
    all.filter(_.resample).map(_.name).toSet shouldBe Set("d06_canonicalize",
      "d08_canonical_best", "d11_cluster_stats", "p06_dedup_budget", "p09_cluster_split")
  }

  test("declaring a query evaluates none of its oracle SQL") {
    var built = 0
    val q = Query.query("x", SparkEntry.queries("q01_pricing_summary")) oracle {
      built += 1; "SELECT 1"
    }
    built shouldBe 0
    val Oracle(sql) = q.gate
    sql() shouldBe "SELECT 1"
    built shouldBe 1
  }

  test("select returns every declaration in name order, or the named ones, and rejects unknown names") {
    SparkEntry.select(Nil).map(_.name) shouldBe all.map(_.name).sorted
    SparkEntry.select(Seq("q19_topk_limit", "d02_ngram_jaccard")).map(_.name) shouldBe
      Seq("d02_ngram_jaccard", "q19_topk_limit")
    the[IllegalArgumentException] thrownBy SparkEntry.select(Seq("q19_topk_limit", "nope")) should
      have message "requirement failed: unknown queries: nope"
  }
}
