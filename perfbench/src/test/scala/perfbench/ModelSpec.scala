package perfbench

import org.scalatest.funsuite.AnyFunSuite

class ModelSpec extends AnyFunSuite {

  private val seed = 11L
  private val n = 30000
  private val model = new Gen.Model(seed, n)
  private val rows = (0 until n).map(Gen.history(seed, n, _))

  test("model top-K equals brute-force filter-and-sort for every query shape") {
    val queries = (0 until 300).map(Gen.historyQuery(seed, 0, _))
    assert(queries.map(_.shape).toSet == Gen.Shapes.toSet)
    queries.foreach { q =>
      assert(model.answer(q) == Gen.bruteForce(rows, q), q)
    }
    // most answers are non-empty, so the comparison is not vacuous
    assert(queries.count(q => model.answer(q).nonEmpty) > 250)
  }

  test("model handles empty ranges, unknown services and tiny limits") {
    val mid = rows(n / 2).ts
    Seq(
      Gen.Query("x", "api", mid, mid),
      Gen.Query("x", "nope", Gen.HistStart, Gen.HistEnd),
      Gen.Query("x", "auth", Gen.HistStart, Gen.HistEnd, limit = 1),
      Gen.Query("x", "cart", Gen.HistStart, mid, level = Some("ERROR"), user = Some("u0001"))
    ).foreach(q => assert(model.answer(q) == Gen.bruteForce(rows, q), q))
  }
}
