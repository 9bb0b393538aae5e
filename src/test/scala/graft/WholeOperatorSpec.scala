package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit, when}

import graft.operators.{DedupOps, SimilarityOps}

/** The whole-operator driver paths of PageRank and the n-gram pair stage
  * (with the two cluster operators over it): each operator runs once with
  * its state on the driver and once with broadcasts off, which forces the
  * Spark path, and the two must return the same rows in the same order
  * (doubles by raw bits), at sf0.001 and sf0.01. Also pinned: the inputs
  * the driver paths leave to Spark, the jobs each driver path starts, the
  * operator tag on every job of a call, and the n-gram index checkpoint's
  * release.
  */
class WholeOperatorSpec extends ParitySupport {

  private val dirs = Seq(sf, sf01)

  /** A refined k-NN graph of `dir`, checkpointed, as the benchmarks feed
    * PageRank. */
  private def refined(dir: String): DataFrame =
    SimilarityOps.knnGraphRefinedEdges(spark, dir).select(col("ida"), col("idb")).localCheckpoint()

  test("n-gram pairs, label propagation and star contraction: driver and Spark paths agree row for row") {
    for (dir <- dirs) {
      for ((loop, op) <- Seq[(String, String => DataFrame)](
          "ngram_pairs" -> (DedupOps.ngramJaccard(spark, _)),
          "label_propagation" -> (DedupOps.nearDupClusters(spark, _)),
          "star_contraction" -> (DedupOps.nearDupClustersStar(spark, _)))) {
        val (local, dist) = assertParity(loop, inOrder = true)(() => Seq(op(dir)))
        assert(local === Seq("pairs" -> "driver"), s"$loop at $dir")
        assert(dist === Seq("pairs" -> "spark"), s"$loop at $dir")
      }
    }
  }

  test("PageRank and cluster exemplars: driver and Spark paths agree row for row") {
    for (dir <- dirs) {
      val graph = refined(dir)
      try {
        val (local, dist) = assertParity("pagerank", inOrder = true)(
          () => Seq(SimilarityOps.pageRankOverGraph(spark, dir, graph)))
        assert(local === Seq("pagerank" -> "driver"), dir)
        assert(dist === Seq("pagerank" -> "spark"), dir)
        val (exLocal, exDist) = assertParity("pagerank", inOrder = true)(
          () => Seq(SimilarityOps.clusterExemplars(spark, dir)))
        assert(exLocal === Seq("pagerank" -> "driver"), dir)
        assert(exDist === Seq("pagerank" -> "spark"), dir)
      } finally DedupOps.unpersistCheckpoint(graph)
    }
  }

  /** `documents` rewritten by `edit` into a scratch directory, for `body`. */
  private def withDocuments[T](edit: DataFrame => DataFrame)(body: String => T): T = {
    val dir = java.nio.file.Files.createTempDirectory("whole-operator").toString
    try {
      edit(Tables.load(spark, sf, "documents")).write.parquet(s"$dir/documents.parquet")
      body(dir)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  /** Collect the n-gram pairs and clusters of `dir` on the default path
    * and with broadcasts off; assert the pair stage took `path` on the
    * default run and that both runs agree row for row. */
  private def pairsOn(dir: String, path: String): Seq[List[Any]] = {
    def run() = Caches.withScope(
      Seq(DedupOps.ngramJaccard(spark, dir), DedupOps.nearDupClusters(spark, dir))
        .map(df => canon(df.collect(), inOrder = true)))
    val (out, recs) = recorded(run())
    assert(stages("ngram_pairs", recs) === Seq("pairs" -> path), s"$dir: $recs")
    assert(stages("label_propagation", recs) === Seq("pairs" -> path), s"$dir: $recs")
    assert(out === sparkPath(run()), s"$dir: the two paths differ")
    out.head
  }

  test("n-gram pairs: a null doc_id or a pair bound past the tail takes Spark; empty texts stay") {
    val docs = Tables.load(spark, sf, "documents")
    val first = docs.agg(org.apache.spark.sql.functions.min("doc_id")).head().get(0)
    // a copy of the first document without an id: its shingles pair with
    // the first document's on no path, but count in their frequencies
    withDocuments(d => d.unionByName(d.filter(col("doc_id") === first)
        .withColumn("doc_id", lit(null).cast(d.schema("doc_id").dataType)))) { dir =>
      pairsOn(dir, "spark")
    }
    // an empty and a null text shingle to no row on either path
    withDocuments(d => d.withColumn("text", when(col("doc_id") === first, lit(""))
        .when(col("doc_id") === lit(first) + 1, lit(null)).otherwise(col("text")))) { dir =>
      assert(pairsOn(dir, "driver").nonEmpty)
    }
    // 64 copies of one 800-word text: 51,072 shingle rows (0.8 MB) fit the
    // tail, but their 798 · C(64, 2) candidate pairs (12.9 MB) do not
    val text = (0 until 800).map(i => s"w$i").mkString(" ")
    withDocuments(_.orderBy("doc_id").limit(64).withColumn("text", lit(text))) { dir =>
      val pairs = pairsOn(dir, "spark")
      assert(pairs.length === 64 * 63 / 2)
      assert(pairs.forall(_(2) == ("bits", java.lang.Double.doubleToRawLongBits(1.0))))
    }
  }

  test("the driver paths start a fixed set of jobs") {
    val graph = refined(sf01)
    try {
      def jobs(op: => DataFrame): Seq[String] = Caches.withScope(jobsOf(op.collect())._2)
      // the pair stage cuts and counts the shingle table, then collects it
      val pairs = Seq("count at Fixpoint.scala", "collect at DedupOps.scala")
      assert(jobs(DedupOps.ngramJaccard(spark, sf01)) === pairs)
      assert(jobs(DedupOps.nearDupClusters(spark, sf01)) === pairs)
      assert(jobs(DedupOps.nearDupClustersStar(spark, sf01)) === pairs)
      // PageRank cuts and counts the edges, then collects the node ids and
      // the edges
      val pageRank = Seq("count at Fixpoint.scala",
        "collect at SimilarityOps.scala", "collect at SimilarityOps.scala")
      assert(jobs(SimilarityOps.pageRankOverGraph(spark, sf01, graph)) === pageRank)
      // the exemplars: star contraction's cut and collect, PageRank, then the
      // per-cluster pick over the two driver-built frames, all AQE stage jobs
      assert(jobs(SimilarityOps.clusterExemplarsFrom(spark, sf01, graph)) ===
        Seq("count at Fixpoint.scala", "collect at Fixpoint.scala") ++ pageRank ++
          Seq.fill(6)("$anonfun$withThreadLocalCaptured$2 at CompletableFuture.java"))
    } finally DedupOps.unpersistCheckpoint(graph)
  }

  test("every job of a Spark-path call carries its operator's tag, and the caller's comes back") {
    val sc = spark.sparkContext
    val (after, descriptions) = jobDescriptionsOf {
      sc.setJobDescription("caller")
      Caches.withScope(sparkPath(DedupOps.nearDupClusters(spark, sf01)))
      sc.getLocalProperty("spark.job.description")
    }
    assert(after === "caller")
    assert(descriptions.nonEmpty)
    assert(descriptions.distinct === Seq("graft:label_propagation"))
  }

  test("the Spark pair stage releases its index checkpoint unless the returned frame reads it") {
    def persistent: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet
    for ((name, op) <- Seq[(String, () => DataFrame)](
        "ngramJaccard" -> (() => DedupOps.ngramJaccard(spark, sf01)),
        "nearDupClusters" -> (() => DedupOps.nearDupClusters(spark, sf01)),
        "nearDupClustersStar" -> (() => DedupOps.nearDupClustersStar(spark, sf01)))) {
      Caches.release()
      val before = persistent
      val out = sparkPath { val df = op(); df.collect(); df }
      Caches.release()
      val backing = Checkpoints.rddsOf(out)
      assert(backing.nonEmpty, name)
      assert(persistent -- before === backing.map(_.id).toSet, s"$name: checkpoints left behind")
      backing.foreach(_.unpersist(blocking = true))
      assert(persistent === before, name)
    }
  }
}
