package graft

import org.scalatest.funsuite.AnyFunSuite

/** A query that throws must show up as failed, never as a faster suite. */
class BenchSpec extends AnyFunSuite {

  test("a query whose reps all threw is counted failed, not dropped from the total") {
    val sum = Bench.summarize(Seq(
      "q_ok" -> Seq(2.0, 1.0, 3.0),
      "q_bad" -> Seq(-1.0, -1.0, -1.0)))
    assert(sum.failed == Seq("q_bad"))
    assert(sum.medians.toMap == Map("q_ok" -> 2.0, "q_bad" -> -1.0))
    assert(sum.total == 2.0)
    val line = Bench.shortJson(sum, 3, "testdata/sf0.1")
    assert(line.contains("\"failed\":1"), line)
    assert(line.contains("\"queries\":2"), line)
    assert(line.length < 200, s"${line.length} chars")
  }

  test("one failed rep fails the query") {
    val sum = Bench.summarize(Seq("q" -> Seq(1.0, -1.0, 1.5)))
    assert(sum.failed == Seq("q") && sum.total == 0.0)
  }
}
