package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** The session's generated-class cache outlives Spark's 100-entry
  * default: a plan compiled before more than 100 others is still cached,
  * so running it again compiles nothing. */
class CodegenCacheSpec extends SparkTestBase {

  test("re-running a plan after more than 100 distinct plans compiles no class") {
    // each multiplier is a distinct literal in the generated source
    def plan(i: Int): Long = spark.range(16).selectExpr(s"sum(id * $i + ${i + 7})").head().getLong(0)
    def compiled: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val first = plan(1)
    val c0 = compiled
    (2 to 160).foreach(plan)
    val c1 = compiled
    assert(c1 - c0 > 100, s"only ${c1 - c0} classes compiled by 159 distinct plans")
    assert(plan(1) === first)
    assert(compiled === c1, "re-running the first plan recompiled it")
  }
}
