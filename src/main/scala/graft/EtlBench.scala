package graft

import graft.etl.GtexEtl
import graft.io.DatsJsonWriter
import graft.query.DatsGen

/** Wall-clock rows for the ETL half (r18 verdict #5): every headline
  * bench row times the query half or an extension op, so an ETL
  * throughput regression was invisible to the round ritual. Two rows,
  * OUTSIDE the 89-row headline (membership rule unchanged):
  *
  *  - `etl_gtex_build_k1` — the reference's own pipeline shape end to
  *    end at FIXTURE scale: validated ingest → entity graph
  *    ([[GtexEtl.build]]) → the K1 single-document JSON-LD write
  *    ([[DatsJsonWriter]], a deliberately driver-side sink — the
  *    reference emits one ~160 MB document the same way,
  *    bin/gtex_v7_to_dats.py:404-406). Fixture-sized in absolute terms,
  *    but a regression in the ETL code path (a new shuffle, a
  *    per-row collect, a quadratic assembly) moves it.
  *  - `etl_materialize` — the AT-SCALE ETL half at `sfDir`: entity
  *    graph derivation + the bucketed entity-table write
  *    ([[DatsGen.materialize]]), i.e. the deployment's write-once
  *    step. Same timing scaffolding ([[BenchKit]]) as DatsModeBench's
  *    `materialize` row but NOT like-for-like with it: DatsModeBench
  *    times materialize once, cold, while this row takes min-of-reps
  *    after an untimed warm-up (warm page cache), so it reads
  *    systematically lower — compare within one instrument only.
  *
  * Usage: runMain graft.EtlBench [gtexFixtureDir] [sfDir] [outJsonl] [reps]
  */
object EtlBench {
  def main(args: Array[String]): Unit = {
    val fixtures = args.lift(0).getOrElse("src/test/resources/gtex")
    val dir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val out = java.nio.file.Paths.get(args.lift(2).getOrElse("etl_bench.jsonl"))
    val reps = args.lift(3).map(_.toInt).getOrElse(3)
    val spark = Tables.session("etl-bench",
      cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
        Runtime.getRuntime.availableProcessors.toString))
    spark.sparkContext.setLogLevel("ERROR")

    def sentinel(tag: String): Unit = BenchKit.sentinel(spark, out, tag, dir)
    // JVM/codegen warm-up, then the sentinel bracket
    spark.range(1000000).selectExpr("sum(id)").collect()
    sentinel("start")

    val tmp = java.nio.file.Files.createTempDirectory("graft_etl_bench_")
    try {
      // each rep starts from clear caches and releases its graph, both
      // OUTSIDE the clock: GtexEtl.build materializes its tables as local
      // checkpoints, which catalog.clearCache() does not reach, so without
      // the unpersist every earlier rep's tables stay in executor storage
      locally {
        def once(): Double = {
          Caches.release(); spark.catalog.clearCache()
          var graph: GtexEtl.EntityGraph = null
          val s = BenchKit.timed {
            graph = GtexEtl.build(spark, GtexPipeline.inputs(fixtures))
            DatsJsonWriter.write(graph, s"$tmp/gtex_dats.json")
          }
          graph.unpersist()
          s
        }
        once() // untimed warm-up rep, same discipline as Bench/DatsModeBench
        BenchKit.record(out, "etl_gtex_build_k1", (1 to reps).map(_ => once()).min, fixtures)
      }
      // timed: the materialize write ONLY — each rep gets a fresh dir and
      // the between-rep cleanup stays outside the clock
      locally {
        var n = 0
        def once(): Double = {
          n += 1
          val matDir = s"$tmp/mat_$n"
          val s = BenchKit.timed(DatsGen.materialize(spark, dir, matDir))
          graft.io.EntityStore.dropBucketed(spark, matDir)
          s
        }
        once() // untimed warm-up rep
        BenchKit.record(out, "etl_materialize", (1 to reps).map(_ => once()).min, dir)
      }
      sentinel("end")
    } finally {
      try BenchKit.deleteTree(tmp) catch { case _: Throwable => () }
      spark.stop()
    }
  }
}
