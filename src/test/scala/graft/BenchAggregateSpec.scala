package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

class BenchAggregateSpec extends AnyFunSuite with Matchers {

  test("a failed sample (-1) is counted as a failure, not dropped") {
    val agg = Bench.aggregate(Seq(
      "a" -> Seq(2.0, 1.0),
      "b" -> Seq(3.0, -1.0, 5.0),
      "c" -> Seq(4.0, 6.0)))
    agg.failed shouldBe Seq("b")
    agg.perQuery shouldBe Seq(("a", 1.0, 1.5), ("b", 3.0, 4.0), ("c", 4.0, 5.0))
    agg.total shouldBe 8.0
  }

  test("a query whose every sample failed reports -1 and stays out of the total") {
    val agg = Bench.aggregate(Seq("a" -> Seq(-1.0, -1.0), "b" -> Seq(2.0)))
    agg.failed shouldBe Seq("a")
    agg.perQuery shouldBe Seq(("a", -1.0, -1.0), ("b", 2.0, 2.0))
    agg.total shouldBe 2.0
  }
}
