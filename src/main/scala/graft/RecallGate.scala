package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.SimilarityOps

/** First-class recall artifact generator for the k-NN graph family —
  * the measurement the at-scale ANN claims stand on (RECALL_rN.json).
  *
  * For each (sf dir, graph spec) it builds the graph, scores it with the
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
  * Env:   SPARK_GRAFT_RECALL_GRAPHS — csv of graph specs (default
  *        "2probe,bits,refined"); each spec is one of
  *          1probe | 2probe | bits | refined
  *        or a tuned refined sweep point ('+'-separated dials — ','
  *        already separates the spec list)
  *          refined@kd=48+rounds=7+tables=8+target=128+ekd=16
  *        (omitted dials default to the shipped constants; tuned points
  *        exist to PRICE the dials — only the default config is
  *        oracle-checked).
  */
object RecallGate {

  /** Dial names each graph accepts — a tuned spec carrying anything
    * else (a typo like `round=7`, or dials on a graph that ignores
    * them) must FAIL LOUDLY: silently building the default config
    * while stamping the requested dials into the artifact row is the
    * 35-minute wrong-measurement failure mode this parser exists to
    * prevent. */
  private val AcceptedDials: Map[String, Set[String]] = Map(
    "1probe" -> Set.empty, "2probe" -> Set.empty, "bits" -> Set.empty,
    "refined" -> Set("kd", "rounds", "tables", "target", "ekd", "erounds"))

  private[graft] def parseSpec(spec: String): (String, Map[String, Long]) = {
    val (name, dials) = spec.split("@", 2) match {
      case Array(n) => (n, Map.empty[String, Long])
      case Array(n, ds) =>
        (n, ds.split("\\+").filter(_.nonEmpty).map { kv =>
          kv.split("=", 2) match {
            case Array(k, v) if v.trim.nonEmpty => k.trim -> v.trim.toLong
            case _ => sys.error(
              s"RecallGate: malformed dial '$kv' in spec '$spec' (want key=value)")
          }
        }.toMap)
    }
    val accepted = AcceptedDials.getOrElse(name,
      sys.error(s"RecallGate: unknown graph spec '$name'"))
    val unknown = dials.keySet -- accepted
    require(unknown.isEmpty,
      s"RecallGate: spec '$spec' carries dial(s) ${unknown.mkString(",")} " +
        s"that '$name' does not accept — the build would silently ignore them")
    (name, dials)
  }

  private def build(spark: SparkSession, dir: String, spec: String): DataFrame = {
    val (name, d) = parseSpec(spec)
    name match {
      case "1probe" => SimilarityOps.knnGraph(spark, dir)
      case "2probe" => SimilarityOps.knnGraph2(spark, dir)
      case "bits"   => SimilarityOps.knnGraphBits(spark, dir)
      case "refined" => SimilarityOps.knnGraphRefinedTuned(spark, dir,
        kd = d.getOrElse("kd", SimilarityOps.DescentK.toLong).toInt,
        rounds = d.getOrElse("rounds", SimilarityOps.DescentRounds.toLong).toInt,
        seedTables = d.getOrElse("tables", SimilarityOps.DescentSeedTables.toLong).toInt,
        seedTargetList = d.getOrElse("target", SimilarityOps.DescentSeedTarget),
        earlyKd = d.getOrElse("ekd", SimilarityOps.DescentEarlyKd.toLong).toInt,
        earlyRounds = d.getOrElse("erounds", SimilarityOps.DescentEarlyRounds.toLong).toInt)
      case other => sys.error(s"RecallGate: unknown graph spec '$other'") // unreachable: parseSpec validates
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: RecallGate <outJsonl> <sfDir> [sfDir ...]")
    val outPath = java.nio.file.Paths.get(args(0))
    val sfDirs = args.drop(1).toSeq
    val graphs = sys.env.getOrElse("SPARK_GRAFT_RECALL_GRAPHS", "2probe,bits,refined")
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val spark = Tables.session("recall-gate")
    spark.sparkContext.setLogLevel("ERROR")
    // a degenerate point must not abort the remaining sweep (r14 advice:
    // sys.error here silently discarded every later spec/sf) — record it
    // as an explicit error row and keep sweeping, then exit non-zero
    var degenerate = 0
    for (dir <- sfDirs; spec <- graphs) {
      val n = Tables.load(spark, dir, "embeddings").count()
      // build and gate timed separately: the build is the graph's cost
      // story; the gate is the fixed O(|eval|·n) harness
      val t0 = System.nanoTime()
      // localCheckpoint (eager) materializes the edge relation so the
      // gate's two references don't rebuild the descent
      val g = build(spark, dir, spec)
        .select(col("ida"), col("idb")).localCheckpoint()
      val buildSecs = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val agg = SimilarityOps.knnRecallOf(spark, dir, g)
        .agg(sum("n_true").as("t"), sum("hits").as("h"),
          count(lit(1)).as("q")).collect()(0)
      val gateSecs = (System.nanoTime() - t1) / 1e9
      val (t, h, q) = (agg.getLong(0), agg.getLong(1), agg.getLong(2))
      val (name, dials) = parseSpec(spec)
      val cfg = if (dials.isEmpty) "default"
        else dials.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString(",")
      // zero true edges means the gate itself is degenerate (empty/tiny
      // embeddings table, broken eval set) — writing recall=1.0 would put
      // a perfect-recall row into the artifact of record, the inverse of
      // the r11 misleading-gate failure this tool exists to prevent. The
      // point is recorded as an explicit ERROR row (consumers filter on
      // the `error` key) and the sweep continues.
      val row = if (t == 0) {
        degenerate += 1
        System.err.println(s"RecallGate: 0 true edges for $spec at $dir " +
          s"($n vectors, $q queries) — degenerate gate, recording error row")
        String.format(java.util.Locale.ROOT,
          """{"graph":"%s","config":"%s","sf":"%s","n_vectors":%d,""" +
            """"n_queries":%d,"true_edges":0,""" +
            """"error":"degenerate gate: 0 true edges"}""",
          name, cfg, dir, Long.box(n), Long.box(q))
      } else {
        val recall = h.toDouble / t
        // Locale.ROOT: a comma-decimal default locale would emit invalid
        // JSON through the f-interpolator and break the artifact build
        String.format(java.util.Locale.ROOT,
          """{"graph":"%s","config":"%s","sf":"%s","n_vectors":%d,""" +
            """"n_queries":%d,"true_edges":%d,"hits":%d,"recall":%.4f,""" +
            """"build_secs":%.2f,"gate_secs":%.2f}""",
          name, cfg, dir, Long.box(n), Long.box(q), Long.box(t), Long.box(h),
          Double.box(recall), Double.box(buildSecs), Double.box(gateSecs))
      }
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
