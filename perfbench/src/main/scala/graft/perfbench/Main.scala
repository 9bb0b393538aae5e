package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode

import graft.{BenchKit, Caches, SparkEntry, Tables}
import graft.operators.{DedupOps, IterLoop}

/** The benchmark's JVM side. `run.py` generates the inputs, builds this
  * package and starts it; see `perfbench/README.md` for the metrics.
  *
  * One client runs one workload as a closed loop: a pass is the workload's
  * ops in order, each timed from the call into its layer to the end of the
  * action that consumes the result; passes repeat until `--seconds` have
  * passed, and a pass is never cut short. Caches are released, and the heap
  * collected, between ops outside the clock. Only `--trace 1` runs carry
  * the listeners.
  *
  * The last stdout line is the result object. `--oracle-out FILE` instead
  * writes the oracle SQL of every golden-checked query, for `golden.py`. */
object Main {

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "wall_s" -> "s", "rows_per_s" -> "rows/s")

  val PerLayer: Seq[(String, String)] = Seq(
    "sources.read_s" -> "s", "sources.rows" -> "rows", "sources.reject_ratio" -> "ratio",
    "etl.build_s" -> "s", "etl.entity_rows" -> "rows",
    "io.json_write_s" -> "s", "io.json_read_s" -> "s", "io.json_heap_peak_mb" -> "MB",
    "io.json_bytes" -> "bytes") ++
    (1 to 7).map(n => s"query.q${n}_s" -> "s") ++
    Seq("query.gtex_s" -> "s",
      "operators.knn_build_s" -> "s", "operators.knn_recall_s" -> "s",
      "operators.knn_recall" -> "ratio", "operators.pagerank_s" -> "s",
      "operators.dedup_clusters_s" -> "s", "operators.dedup_star_s" -> "s",
      "operators.top_component_s" -> "s", "operators.kmeans_auto_s" -> "s",
      "spark.plan_s" -> "s", "spark.jobs" -> "count", "spark.stages" -> "count",
      "spark.tasks" -> "count", "spark.task_wait_s" -> "s", "spark.one_task_jobs" -> "count",
      "spark.driver_gap_s" -> "s", "spark.exec_run_s" -> "s", "spark.exec_cpu_s" -> "s",
      "spark.gc_s" -> "s", "spark.scan_bytes" -> "bytes", "spark.shuffle_read_bytes" -> "bytes",
      "spark.shuffle_write_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
      "trace.wall_s" -> "s")

  /** Queries whose answers are checked against golden digests. */
  val goldenQueries: Seq[String] = Seq("sim_knn_graph_refined", "sim_knn_recall_refined",
    "sim_pagerank", "dedup_clusters", "dedup_clusters_star", "sim_top_component",
    "dedup_embedding_auto")

  private val json = new ObjectMapper()

  private def flags(argv: Array[String]): Map[String, String] =
    argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap

  def main(argv: Array[String]): Unit = {
    val a = flags(argv)
    a.get("oracle-out") match {
      case Some(path) =>
        val o = json.createObjectNode()
        goldenQueries.foreach(q => o.put(q, SparkEntry.oracleSql(q)))
        Files.writeString(Paths.get(path), json.writerWithDefaultPrettyPrinter().writeValueAsString(o))
      case None =>
        run(a)
        sys.exit(0)
    }
  }

  private def loadavg(): String =
    Try(Files.readString(Paths.get("/proc/loadavg")).split("\\s+").take(3).mkString(","))
      .getOrElse("")

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private final case class Pass(ops: Seq[Span], failed: Int) {
    def wall: Double = ops.map(_.secs).sum
  }

  def run(a: Map[String, String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val workload = a("workload")
    val seed = a("seed")
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    // the A/B hooks must be at their production defaults (ADVICE.md)
    require(IterLoop.aqeOverride.isEmpty, "IterLoop.aqeOverride is set")
    require(DedupOps.starSeedDistinctOverride.isEmpty,
      "DedupOps.starSeedDistinctOverride is set")

    def counts(path: String): Map[String, Long] = json.readTree(Files.readString(Paths.get(path)))
      .fields().asScala.map(e => e.getKey -> e.getValue.asLong).toMap
    val goldens: Map[String, Digest] = json.readTree(Files.readString(Paths.get(a("goldens"))))
      .fields().asScala.map { e =>
        val g = e.getValue
        e.getKey -> Digest(g.get("cols").elements().asScala.map(_.asText).toSeq,
          g.get("rows").asLong, g.get("sum").asText)
      }.toMap

    val spark = Tables.session("perfbench",
      cpus = Runtime.getRuntime.availableProcessors.toString)
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    try {
      val calibT0 = System.nanoTime()
      BenchKit.calibSec(spark) // untimed: JIT for the kernel itself
      val loadStart = loadavg()
      val calibStart = BenchKit.calibSec(spark)
      val calibSecs = (System.nanoTime() - calibT0) / 1e9

      val ctx = new Ctx(spark, a("inputs"), a("work"), counts(a("info")), goldens)
      val w = Workload(workload, ctx)
      val counters = new SparkCounters(spark)
      var nextSpan = 0
      var nextOp = 0
      val allSpans = mutable.ArrayBuffer.empty[Span]

      def runPass(): Pass = {
        val passId = nextSpan
        nextSpan += 1
        val (pm0, pn0) = (System.currentTimeMillis(), System.nanoTime())
        var failed = 0
        val spans = w.pass().map { op =>
          Caches.release()
          spark.catalog.clearCache()
          System.gc()
          Workload.resetHeapPeak()
          val (m0, n0) = (System.currentTimeMillis(), System.nanoTime())
          val result = Try(op.run())
          val (m1, n1) = (System.currentTimeMillis(), System.nanoTime())
          val err = result match {
            case Success(check) => Try(check()) match {
              case Success(e) => e
              case Failure(t) => Some(s"check threw $t")
            }
            case Failure(t) => Some(s"threw $t")
          }
          err.foreach { e =>
            failed += 1
            System.err.println(s"[perfbench] FAILED ${op.name}: ${e.take(500)}")
          }
          val s = Span(nextSpan, op.name, op.metric, passId, nextOp, m0, m1, n0, n1)
          nextSpan += 1
          nextOp += 1
          s
        }
        w.afterPass()
        allSpans += Span(passId, "pass", "pass", -1, -1,
          pm0, System.currentTimeMillis(), pn0, System.nanoTime())
        allSpans ++= spans
        Pass(spans, failed)
      }

      // Every pass is timed, the first from a cold JVM: the run budget has no
      // room for an untimed warm-up pass (a warm-up over 1/32 of the GTEx
      // rows cost as much as the full pass cold), and a batch job pays the
      // cold start in every process. A traced run makes the same passes with
      // the listeners on, so its per-layer times add up to a pass like the
      // untraced run's, and trace.wall_s minus that run's wall_s is the
      // tracing overhead.
      val setupS = a("gen-s").toDouble +
        (System.currentTimeMillis() - jvmStartMs) / 1e3 - calibSecs
      val t0 = System.nanoTime()
      val passes = mutable.ArrayBuffer.empty[Pass]
      def elapsed = (System.nanoTime() - t0) / 1e9
      if (traced) counters.start()
      while (passes.isEmpty || elapsed < seconds) passes += runPass()
      if (traced) counters.stop()

      val loadEnd = loadavg()
      val calibEnd = BenchKit.calibSec(spark)
      val wall = median(passes.map(_.wall).toSeq)

      val metrics = json.createObjectNode()
      def put(name: String, unit: String, v: Double): Unit = {
        val m = metrics.putObject(name)
        m.put("value", v)
        m.put("unit", unit)
      }
      if (!traced) {
        val e2e = Map("setup_s" -> setupS, "wall_s" -> wall, "rows_per_s" -> w.rows / wall)
        EndToEnd.foreach { case (n, u) => put(n, u, e2e(n)) }
      } else {
        val k = passes.size.toDouble
        val opSpans = passes.flatMap(_.ops).toSeq
        val layer = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
        opSpans.foreach(s => layer(s.layer) += s.secs / k)
        counters.summarize(opSpans).foreach { case (n, v) => layer(n) = v / k }
        ctx.values.foreach { case (n, v) => layer(n) = v }
        layer("query.gtex_s") = (1 to 7).map(n => layer(s"query.q${n}_s")).sum
        layer("trace.wall_s") = wall
        PerLayer.foreach { case (n, u) => put(n, u, layer(n)) }
        writeSpans(a("out"), s"$workload-seed$seed", allSpans.toSeq)
      }

      val sentinel = json.createObjectNode()
      sentinel.put("workload", workload)
      sentinel.put("session_s", sessionS)
      sentinel.put("passes", passes.size)
      sentinel.put("pass_walls", passes.map(p => f"${p.wall}%.3f").mkString(","))
      val opTimes = sentinel.putObject("op_s")
      passes.head.ops.foreach(o => opTimes.put(o.name, o.secs))
      sentinel.put("calib_start_s", calibStart)
      sentinel.put("calib_end_s", calibEnd)
      sentinel.put("loadavg_start", loadStart)
      sentinel.put("loadavg_end", loadEnd)
      println(json.writeValueAsString(json.createObjectNode().set[ObjectNode]("sentinel", sentinel)))

      val attempted = passes.map(_.ops.size).sum
      val failed = passes.map(_.failed).sum
      val result = json.createObjectNode()
      result.put("correct", failed == 0)
      result.put("attempted", attempted)
      result.put("failed", failed)
      result.set[ObjectNode]("metrics", metrics)
      println(json.writeValueAsString(result))
    } finally spark.stop()
  }

  /** Spans as JSON lines, each with its self time: its duration minus the
    * part its child spans cover (children never overlap: one client). */
  private def writeSpans(dir: String, tag: String, spans: Seq[Span]): Unit = {
    val childSecs = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.secs).sum }
    val lines = spans.sortBy(_.startNs).map { s =>
      val o = json.createObjectNode()
      o.put("name", s.name)
      o.put("layer", s.layer)
      o.put("id", s.id)
      o.put("parent", s.parent)
      o.put("op", s.op)
      o.put("start_ms", s.startMs)
      o.put("end_ms", s.endMs)
      o.put("dur_s", s.secs)
      o.put("self_s", s.secs - childSecs.getOrElse(s.id, 0.0))
      json.writeValueAsString(o)
    }
    Files.createDirectories(Paths.get(dir))
    Files.writeString(Paths.get(dir, s"$tag.spans.jsonl"), lines.mkString("", "\n", "\n"))
  }
}
