package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

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

  test("bench artifact: a 208-entry run keeps the compact last line parseable and short") {
    val names = SparkEntry.queries.keys.toSeq.take(208)
    assert(names.size == 208)
    val timings = names.zipWithIndex.map { case (n, i) =>
      n -> Bench.Timing(0.123456789 * (i + 1), 1234.0 * i, 56.0, -0.4 * i)
    }.toMap
    val errors = Map("knn_brute" -> "IllegalStateException: boom")
    val passesQ = names.map(n => n -> 3).toMap
    val (full, compact) = Bench.artifact(timings, errors, passesQ,
      deferred = Seq("q_last"), skipped = Set("dedup_embedding"),
      sfDir = "testdata/sf0.1", outFile = "BENCH_full.json",
      elapsedSec = 1234.5, cpus = 32, passes = 3)
    val json = new ObjectMapper()
    val c = json.readTree(compact)
    Seq("metric", "value", "n_queries", "n_errors", "n_deferred", "queries",
      "full", "sf").foreach(k => assert(c.has(k), s"compact line lacks $k"))
    assert(c.get("n_queries").asInt == 208)
    assert(c.get("n_deferred").asInt == 1)
    assert(c.get("queries").size == 10)
    assert(c.get("full").asText == "BENCH_full.json")
    assert(compact.length < 2000, s"compact line is ${compact.length} chars")
    val f = json.readTree(full)
    val keys = f.fieldNames.asScala.toSeq
    assert(keys.filter(_.startsWith("fork")).isEmpty && !keys.contains("forked"))
    assert(f.get("queries").size == 208 && f.get("heap_delta_mb").size == 208)
    assert(f.get("errors").get("knn_brute").asText == "IllegalStateException: boom")
  }
}
