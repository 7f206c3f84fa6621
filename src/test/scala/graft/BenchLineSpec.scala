package graft

import org.scalatest.funsuite.AnyFunSuite

/** The printed bench line must fit a 2,000-char stdout-tail capture
  * (~80 chars of it are sbt's epilogue) at the full slot count, and its
  * values-only medians must read back in headline order. */
class BenchLineSpec extends AnyFunSuite {

  test("stdout line fits 1,900 chars at 114 widest slots and parses back") {
    val slots = math.max(114, Bench.headline.size)
    // 2-decimal medians print at most 8 chars below 100,000 s per slot;
    // each value is the double nearest its printed decimal
    val medians = Seq.tabulate(slots)(i => (9999999 - i) / 100.0)
    val line = Bench.stdoutLine(medians.sum, 1024, medians,
      distrust = true, sf = "/" + "x" * 63)
    assert(line.length <= 1900, s"${line.length} chars")

    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
    val qs = node.get("queries")
    assert(qs.isArray && qs.size == slots)
    assert((0 until slots).map(qs.get(_).asDouble) == medians)
    assert(node.get("queries_order").asText == "prefix")
    assert(node.get("metric").asText == "total")
    assert(node.get("unit").asText == "sec")
    assert(node.get("cpus").asInt == 1024)
    assert(node.get("distrust").asBoolean)
    assert(node.get("sf").asText == "/" + "x" * 63)
    assert(math.abs(node.get("value").asDouble - medians.sum) < 1e-3)
  }

  test("medians round to 2 decimals; a failed slot prints -1.00") {
    val line = Bench.stdoutLine(1.5, 4, Seq(0.123, -1.0, 2.0), false, "sf")
    assert(line.contains(""""queries":[0.12,-1.00,2.00]"""), line)
  }
}
