package graft

import org.scalatest.funsuite.AnyFunSuite

class RecallGateSpec extends AnyFunSuite {

  test("graph list: the three graph names, in order, split on ','") {
    assert(RecallGate.graphs("2probe, bits,refined,").map(_._1) ===
      Seq("2probe", "bits", "refined"))
    assert(RecallGate.graphs("refined").map(_._1) === Seq("refined"))
  }

  test("spec parser: unknown dials, dials on dial-less graphs, and malformed tokens fail loudly") {
    // a retired graph, or any dial suffix, must never silently build a
    // default graph while the artifact row claims something else — and it
    // fails before the first build, wherever it sits in the list
    for (spec <- Seq("1probe", "refined@kd=48", "refined@round=7", "refined@rho=50",
        "bits@tables=8", "refined@kd48", "voronoi3")) {
      val e = intercept[IllegalArgumentException](RecallGate.graphs(s"2probe,$spec"))
      assert(e.getMessage.contains(s"'$spec'"), e.getMessage)
    }
  }

  test("JSONL rows quote an sf path holding a quote and a backslash") {
    val dir = "/data/sf \"q\" \\x"
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
    val normal = json.readTree(RecallGate.jsonRow("refined", dir,
      1000L, 100L, 143L, 135L, 1.5, 0.25))
    assert(normal.get("sf").asText === dir)
    assert(normal.get("config").asText === "default")
    assert(normal.get("hits").asLong === 135L)
    assert(normal.get("recall").asDouble === 0.9441)
    val degenerate = json.readTree(RecallGate.jsonRow("bits", dir,
      3L, 100L, 0L, 0L, 0.1, 0.1))
    assert(degenerate.get("sf").asText === dir)
    assert(degenerate.get("true_edges").asLong === 0L)
    assert(degenerate.has("error") && !degenerate.has("recall"))
  }
}
