package graft

import org.scalatest.funsuite.AnyFunSuite

class HarnessSpec extends AnyFunSuite {

  test("query selector rejects an unknown name and lists the valid ones") {
    val e = intercept[IllegalArgumentException](
      Harness.select(Seq("q_kpi", "typo")))
    assert(e.getMessage.contains("'typo'"))
    assert(!e.getMessage.contains("'q_kpi'"))
    SparkEntry.queries.keys.foreach(n => assert(e.getMessage.contains(n)))
  }

  test("query selector keeps registry order and selects all on no names") {
    assert(Harness.select(Nil).map(_._1) == SparkEntry.queries.keys.toSeq)
    val two = Seq("q_kpi", "q_hourly_mart")
    assert(Harness.select(two).map(_._1) ==
      SparkEntry.queries.keys.toSeq.filter(two.contains))
  }
}
