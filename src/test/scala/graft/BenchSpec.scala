package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

import graft.Bench.Summary

/** Bench's sampling rule and result line, checked without running a
  * query: the summary of known samples, failure handling, and the JSON
  * line's shape. */
class BenchSpec extends AnyFunSuite {
  private val mapper = new ObjectMapper()

  test("three samples: median and linear-interpolated quartiles") {
    // sorted 0.3, 0.4, 0.9: median 0.4, q1 halfway 0.3..0.4, q3 halfway 0.4..0.9
    val s = Summary.of(Seq(0.9, 0.3, 0.4))
    assert(math.abs(s.value - 0.4) < 1e-12)
    assert(math.abs(s.q1 - 0.35) < 1e-12)
    assert(math.abs(s.q3 - 0.65) < 1e-12)
    assert(!s.failed)
    // one warm-up call, then Bench.Samples timed ones; the warm-up is dropped
    val runs = Iterator(100.0, 0.9, 0.3, 0.4)
    var calls = 0
    assert(Bench.sample { () => calls += 1; runs.next() } == s)
    assert(calls == 1 + Bench.Samples)
  }

  test("a failed run stops sampling; the query is negative and listed in failed") {
    val runs = Iterator(1.0, 0.5, -1.25, 0.2)
    var calls = 0
    val s = Bench.sample { () => calls += 1; runs.next() }
    assert(calls == 3, "sampling went on past the failed run")
    assert(s.failed && s.value == -1.25)
    assert(Bench.sample(() => -2.0).value == -2.0, "a failed warm-up is a failure")
    val line = mapper.readTree(Bench.resultLine("/data/sf0.1",
      Seq("a_ok" -> Summary.of(Seq(1.0, 2.0, 3.0)), "b_crash" -> s)))
    assert(line.get("queries").get("b_crash").asDouble == -1.25)
    assert(line.get("failed").elements.asScala.map(_.asText).toSeq == Seq("b_crash"))
    assert(line.get("value").asDouble == 2.0, "a failed query counted in the total")
  }

  test("the line parses, carries quartiles and n, and ends with failed and value") {
    val text = Bench.resultLine("/data/sf0.1",
      Seq("q_a" -> Summary.of(Seq(0.1234, 0.2, 0.3)), "q_b" -> Summary.of(Seq(1.0, 1.0, 4.0))))
    assert(!text.contains("\n"))
    val line = mapper.readTree(text)
    val fields = line.fieldNames.asScala.toSeq
    assert(fields.takeRight(2) == Seq("failed", "value"))
    assert(Seq("queries", "q1", "q3", "samples_per_query").forall(fields.contains))
    assert(line.get("samples_per_query").asInt == Bench.Samples)
    assert(line.get("queries").get("q_a").asDouble == 0.2)
    assert(line.get("q1").get("q_a").asDouble == 0.162) // 0.16170 rounded
    assert(line.get("q3").get("q_b").asDouble == 2.5)
    assert(line.get("failed").isEmpty)
    assert(line.get("value").asDouble == 1.2)
  }

  test("an SF path with a quote and a backslash round-trips") {
    val sf = "/tmp/we\"ird\\sf0.1"
    val line = mapper.readTree(Bench.resultLine(sf, Seq("q" -> Summary.of(Seq(1.0)))))
    assert(line.get("sf").asText == sf)
  }
}
