package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.SimilarityOps

/** First-class recall artifact generator for the k-NN graph family —
  * the measurement the at-scale ANN claims stand on (RECALL_rN.json).
  *
  * For each (sf dir, graph) it builds the graph, scores it with the
  * shared 100-query mutual-edge gate ([[SimilarityOps.knnRecallOf]] —
  * identical ground truth and eval set as the oracle-checked
  * sim_knn_recall* queries), and appends one JSONL row:
  *
  *   {"graph":…, "sf":…, "n_vectors":…, "config":…, "n_queries":100,
  *    "true_edges":…, "hits":…, "recall":…, "build_secs":…,
  *    "gate_secs":…}
  *
  * `recall` is the micro-average hits/true_edges over the eval set —
  * the same cell definition as ARCHITECTURE.md's recall table. Rounds
  * 11-12 proved prose recall tables mislead (a 10-query gate read 0.00
  * where the graph held 0.90); this artifact makes the at-scale quality
  * claims auditable per round the way BENCH/CORRECTNESS already are.
  *
  * Usage: runMain graft.RecallGate <outJsonl> <sfDir> [sfDir …]
  * Env:   SPARK_GRAFT_RECALL_GRAPHS — csv of graph names (default
  *        "2probe,bits,refined"), each one of 2probe | bits | refined.
  *        Each graph is its suite operator's one configuration, so every
  *        row's config is "default" (the committed sweep rows of earlier
  *        dials keep theirs).
  */
object RecallGate {

  private val Graphs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "2probe" -> SimilarityOps.knnGraph2Edges, "bits" -> SimilarityOps.knnGraphBitsEdges,
    "refined" -> ((s, d) => SimilarityOps.knnGraphRefinedEdges(s, d)))

  /** The graphs a csv names, in order. Any other name — a retired graph,
    * or a dial suffix like `refined@kd=48` — fails loudly before the first
    * build: silently building the default while the artifact row records
    * something else is the wrong-measurement failure this guards. */
  private[graft] def graphs(csv: String): Seq[(String, (SparkSession, String) => DataFrame)] =
    csv.split(",").map(_.trim).filter(_.nonEmpty).toSeq.map { name =>
      name -> Graphs.getOrElse(name, throw new IllegalArgumentException(
        s"RecallGate: unknown graph '$name' (want one of ${Graphs.keys.toSeq.sorted.mkString(", ")})"))
    }

  /** One JSONL row of the sweep, every string quoted by [[BenchKit.jstr]]
    * (an sf path may hold `"` or `\`). Zero true edges means the gate
    * itself is degenerate (empty/tiny embeddings table, broken eval set) —
    * writing recall=1.0 would put a perfect-recall row into the artifact
    * of record, the inverse of the r11 misleading-gate failure this tool
    * exists to prevent — so that point is an explicit ERROR row
    * (consumers filter on the `error` key). Locale.ROOT: a comma-decimal
    * default locale would emit invalid JSON through the format. */
  private[graft] def jsonRow(graph: String, sf: String, nVectors: Long,
                             nQueries: Long, trueEdges: Long, hits: Long,
                             buildSecs: Double, gateSecs: Double): String = {
    import BenchKit.jstr
    val head = s"""{"graph":${jstr(graph)},"config":"default","sf":${jstr(sf)},""" +
      s""""n_vectors":$nVectors,"n_queries":$nQueries,"true_edges":$trueEdges,"""
    if (trueEdges == 0) head + s""""error":${jstr("degenerate gate: 0 true edges")}}"""
    else head + String.format(java.util.Locale.ROOT,
      """"hits":%d,"recall":%.4f,"build_secs":%.2f,"gate_secs":%.2f}""",
      Long.box(hits), Double.box(hits.toDouble / trueEdges), Double.box(buildSecs),
      Double.box(gateSecs))
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: RecallGate <outJsonl> <sfDir> [sfDir ...]")
    val outPath = java.nio.file.Paths.get(args(0))
    val sfDirs = args.drop(1).toSeq
    val builds = graphs(sys.env.getOrElse("SPARK_GRAFT_RECALL_GRAPHS", "2probe,bits,refined"))
    val spark = Tables.session("recall-gate")
    spark.sparkContext.setLogLevel("ERROR")
    // a degenerate point must not abort the remaining sweep (r14 advice:
    // sys.error here silently discarded every later graph/sf) — record it
    // as an explicit error row and keep sweeping, then exit non-zero
    var degenerate = 0
    for (dir <- sfDirs; (name, build) <- builds) {
      val n = Tables.rowCount(spark, dir, "embeddings")
      // build and gate timed separately: the build is the graph's cost
      // story; the gate is the fixed O(|eval|·n) harness
      val t0 = System.nanoTime()
      // localCheckpoint (eager) materializes the edge relation so the
      // gate's two references don't rebuild the descent
      val g = build(spark, dir)
        .select(col("ida"), col("idb")).localCheckpoint()
      val buildSecs = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val agg = SimilarityOps.knnRecallOf(spark, dir, g)
        .agg(sum("n_true").as("t"), sum("hits").as("h"),
          count(lit(1)).as("q")).collect()(0)
      val gateSecs = (System.nanoTime() - t1) / 1e9
      val (t, h, q) = (agg.getLong(0), agg.getLong(1), agg.getLong(2))
      // a degenerate gate writes an error row ([[jsonRow]]) and the sweep
      // continues
      if (t == 0) {
        degenerate += 1
        System.err.println(s"RecallGate: 0 true edges for $name at $dir " +
          s"($n vectors, $q queries) — degenerate gate, recording error row")
      }
      val row = jsonRow(name, dir, n, q, t, h, buildSecs, gateSecs)
      java.nio.file.Files.writeString(outPath, row + "\n",
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
      println(row)
      // the checkpointed edge relation is outside the cache registry —
      // without this, a 14-point sweep leaks one graph-sized RDD per
      // row and late points measure under artificial memory pressure
      graft.operators.DedupOps.unpersistCheckpoint(g)
      Caches.release()
      spark.catalog.clearCache()
    }
    spark.stop()
    if (degenerate > 0)
      sys.error(s"RecallGate: $degenerate degenerate point(s) recorded as error rows")
  }
}
