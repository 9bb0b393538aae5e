package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit, transform, when}
import org.apache.spark.sql.types.{ArrayType, LongType}

import graft.operators.{DedupOps, SimilarityOps}

/** The whole-operator driver paths of PageRank, the n-gram pair stage
  * (with the two cluster operators over it), the cluster exemplar pick,
  * the top component's moments and the embedding near-dup pairs: each
  * operator runs once with its state on the driver and once with
  * broadcasts off, which forces the Spark path, and the two must return
  * the same rows in the same order (doubles by raw bits), at sf0.001 and
  * sf0.01. Also pinned: the inputs the driver paths leave to Spark, the
  * jobs each driver path starts, the operator tag on every job of a
  * call, and the n-gram index checkpoint's release.
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
          () => Seq(SimilarityOps.clusterExemplarsFrom(spark, dir,
            SimilarityOps.knnGraph2Edges(spark, dir).select(col("ida"), col("idb")))))
        assert(exLocal === Seq("pagerank" -> "driver"), dir)
        assert(exDist === Seq("pagerank" -> "spark"), dir)
      } finally DedupOps.unpersistCheckpoint(graph)
    }
  }

  test("top component, component scores and embedding near-dup pairs: driver and Spark paths agree row for row") {
    for (dir <- dirs) {
      val (local, dist) = assertParity("top_component", inOrder = true)(
        () => Seq(SimilarityOps.topComponent(spark, dir)))
      assert(local === Seq("moments" -> "driver"), dir)
      assert(dist === Seq("moments" -> "spark"), dir)
      // the scores keep their Spark plan over the driver-built component
      def scores() = Caches.withScope(
        canon(SimilarityOps.componentScores(spark, dir).collect(), inOrder = true))
      val out = scores()
      assert(out.nonEmpty, dir)
      assert(out === sparkPath(scores()), s"component scores at $dir")
      val (pLocal, pDist) = assertParity("embedding_near_dup", inOrder = true)(
        () => Seq(DedupOps.embeddingNearDupAuto(spark, dir)))
      assert(pLocal === Seq("pairs" -> "driver"), dir)
      assert(pDist === Seq("pairs" -> "spark"), dir)
    }
  }

  /** `table` of sf0.001 rewritten by `edit` into a scratch directory, for
    * `body`. */
  private def withTable[T](table: String)(edit: DataFrame => DataFrame)(body: String => T): T = {
    val dir = java.nio.file.Files.createTempDirectory("whole-operator").toString
    try {
      edit(Tables.load(spark, sf, table)).write.parquet(s"$dir/$table.parquet")
      body(dir)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  /** Collect `op` on the default path and with broadcasts off; assert
    * `loop`'s `stage` took the Spark path on the default run and that
    * both runs agree row for row. Returns the default run's rows and
    * records. */
  private def declines(loop: String, stage: String, op: () => DataFrame)
      : (Seq[List[Any]], Seq[(String, String, String)]) = {
    def run() = Caches.withScope(canon(op().collect(), inOrder = true))
    val (out, recs) = recorded(run())
    assert(stages(loop, recs) === Seq(stage -> "spark"), recs.toString)
    assert(out === sparkPath(run()), s"$loop: the two paths differ")
    (out, recs)
  }

  test("top component: a component past the moments' hot-sum bound takes Spark") {
    // 17.0 quantizes to 17,000,000 > 2^24; 4000.0 to 4·10^9, whose square
    // overflows a norm the Spark path never computes
    for (x <- Seq(17.0, 4000.0)) {
      withTable("embeddings") { e =>
        val first = e.agg(org.apache.spark.sql.functions.min("vec_id")).head().get(0)
        val elem = e.schema("embedding").dataType.asInstanceOf[ArrayType].elementType
        e.withColumn("embedding", when(col("vec_id") === first,
            transform(col("embedding"), (c, i) => when(i === 0, lit(x).cast(elem)).otherwise(c)))
          .otherwise(col("embedding")))
      } { dir =>
        val (out, _) = declines("top_component", "moments",
          () => SimilarityOps.topComponent(spark, dir))
        assert(out.length === DedupOps.Dim, s"component $x")
      }
    }
  }

  test("embedding near-dup: same-list pairs past the tail take Spark over the driver k-means") {
    // 100 copies of one vector share one list: the vectors (100 · 528 B)
    // fit a 100,000-byte tail, their C(100, 2) pairs (4,950 · 32 B) do not
    withTable("embeddings")(_.orderBy("vec_id").limit(1)
        .crossJoin(spark.range(100).withColumnRenamed("id", "copy"))
        .withColumn("vec_id", col("copy").cast(LongType)).drop("copy")) { dir =>
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "100000")
      val (out, recs) = try declines("embedding_near_dup", "pairs",
          () => DedupOps.embeddingNearDupAuto(spark, dir))
        finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      // the k-means rounds still ran on the driver
      assert(recs.filter(_._1 == "embedding_near_dup").map(_._2).contains("driver"), recs.toString)
      assert(out.length === 100 * 99 / 2)
    }
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
    withTable("documents")(d => d.unionByName(d.filter(col("doc_id") === first)
        .withColumn("doc_id", lit(null).cast(d.schema("doc_id").dataType)))) { dir =>
      pairsOn(dir, "spark")
    }
    // an empty and a null text shingle to no row on either path
    withTable("documents")(d => d.withColumn("text", when(col("doc_id") === first, lit(""))
        .when(col("doc_id") === lit(first) + 1, lit(null)).otherwise(col("text")))) { dir =>
      assert(pairsOn(dir, "driver").nonEmpty)
    }
    // 64 copies of one 800-word text: 51,072 shingle rows (0.8 MB) fit the
    // tail, but their 798 · C(64, 2) candidate pairs (12.9 MB) do not
    val text = (0 until 800).map(i => s"w$i").mkString(" ")
    withTable("documents")(_.orderBy("doc_id").limit(64).withColumn("text", lit(text))) { dir =>
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
      // the exemplars: star contraction's cut and collect, then PageRank; the
      // per-cluster pick collects the two driver-built frames with no job
      assert(jobs(SimilarityOps.clusterExemplarsFrom(spark, sf01, graph)) ===
        Seq("count at Fixpoint.scala", "collect at Fixpoint.scala") ++ pageRank)
      // the top component and the embedding near-dup pairs collect the
      // vectors once
      val vectors = Seq("collect at Fixpoint.scala")
      assert(jobs(SimilarityOps.topComponent(spark, sf01)) === vectors)
      assert(jobs(DedupOps.embeddingNearDupAuto(spark, sf01)) === vectors)
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

  test("every job of the driver-path top component and embedding near-dup calls carries its tag") {
    for ((tag, op) <- Seq[(String, () => DataFrame)](
        "graft:top_component" -> (() => SimilarityOps.topComponent(spark, sf01)),
        "graft:embedding_near_dup" -> (() => DedupOps.embeddingNearDupAuto(spark, sf01)))) {
      val (_, descriptions) = jobDescriptionsOf(Caches.withScope(op().collect()))
      assert(descriptions.nonEmpty, tag)
      assert(descriptions.distinct === Seq(tag))
    }
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
