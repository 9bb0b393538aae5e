package graft

import org.scalatest.funsuite.AnyFunSuite

class RecallGateSpec extends AnyFunSuite {

  test("spec parser: bare names, '+'-separated dials, and the ','-list boundary") {
    assert(RecallGate.parseSpec("refined") === ("refined", Map.empty))
    assert(RecallGate.parseSpec("refined@kd=48") ===
      ("refined", Map("kd" -> 48L)))
    // dials are '+'-separated because ',' separates the SPEC LIST in the
    // env var — the original ','-dial syntax silently split one tuned
    // spec into several bogus specs (an r13 sweep ran the wrong config
    // for 35 minutes before this was caught)
    assert(RecallGate.parseSpec("refined@kd=48+tables=8+target=256") ===
      ("refined", Map("kd" -> 48L, "tables" -> 8L, "target" -> 256L)))
    assert(RecallGate.parseSpec("refined@rounds=7") ===
      ("refined", Map("rounds" -> 7L)))
  }

  test("spec parser: unknown dials, dials on dial-less graphs, and malformed tokens fail loudly") {
    // a typo'd dial must never silently build the default while the
    // artifact row records the requested config
    val typo = intercept[IllegalArgumentException] {
      RecallGate.parseSpec("refined@round=7")
    }
    assert(typo.getMessage.contains("round"))
    // the priced-and-rejected ρ-sampling and mix-partner dials do not ship
    for ((spec, dial) <- Seq("refined@rho=50" -> "rho", "refined@mix=2" -> "mix"))
      assert(intercept[IllegalArgumentException](RecallGate.parseSpec(spec))
        .getMessage.contains(dial))
    intercept[IllegalArgumentException] {
      RecallGate.parseSpec("bits@tables=8") // bits ignores dials — reject
    }
    val malformed = intercept[RuntimeException] {
      RecallGate.parseSpec("refined@kd48") // dropped '='
    }
    assert(malformed.getMessage.contains("kd48"))
    val unknown = intercept[RuntimeException] {
      RecallGate.parseSpec("voronoi3") // not a graph name
    }
    assert(unknown.getMessage.contains("voronoi3"))
  }

  test("JSONL rows quote an sf path holding a quote and a backslash") {
    val dir = "/data/sf \"q\" \\x"
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
    val normal = json.readTree(RecallGate.jsonRow("refined", "kd=48,rounds=7", dir,
      1000L, 100L, 143L, 135L, 1.5, 0.25))
    assert(normal.get("sf").asText === dir)
    assert(normal.get("config").asText === "kd=48,rounds=7")
    assert(normal.get("hits").asLong === 135L)
    assert(normal.get("recall").asDouble === 0.9441)
    val degenerate = json.readTree(RecallGate.jsonRow("bits", "default", dir,
      3L, 100L, 0L, 0L, 0.1, 0.1))
    assert(degenerate.get("sf").asText === dir)
    assert(degenerate.get("true_edges").asLong === 0L)
    assert(degenerate.has("error") && !degenerate.has("recall"))
  }
}
