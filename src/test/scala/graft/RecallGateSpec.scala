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
}
