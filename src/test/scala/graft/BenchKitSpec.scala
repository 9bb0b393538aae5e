package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the one JSON string escaper every result artifact goes through
  * (Bench's per-query and totals lines, Verify's oracle_sql.json,
  * errors.json and manifest.json): a change here changes their bytes. */
class BenchKitSpec extends AnyFunSuite {

  test("jstr quotes, names the five common escapes, and hex-escapes other control chars") {
    assert(BenchKit.jstr("") === "\"\"")
    assert(BenchKit.jstr("a\"b") === "\"a\\\"b\"")
    assert(BenchKit.jstr("a\\b") === "\"a\\\\b\"")
    assert(BenchKit.jstr("a\nb\rc\td") === "\"a\\nb\\rc\\td\"")
    assert(BenchKit.jstr("a\u0001b") === "\"a\\u0001b\"")
    assert(BenchKit.jstr("a\u001fb") === "\"a\\u001fb\"")
    // non-ASCII passes through unchanged: the files are written as UTF-8
    assert(BenchKit.jstr("k′–é") === "\"k′–é\"")
  }
}
